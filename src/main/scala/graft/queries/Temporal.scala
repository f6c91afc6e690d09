package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Materialize, Query, Tables}
import OracleSnippets.{SeasonalCtes, cusumScan, dailyTypeSumCte}
import graft.operators.{Sessionize, Windows}

/** Advanced window / temporal operators (SURVEY.md §2.5) over the events
  * table: forward fill, per-key recurrence (sessionization), as-of weekly
  * snapshots, aging buckets, seeded shuffle, self-join mismatch, nearest
  * neighbour.
  *
  * Oracle notes:
  *  - w02 has no oracle (the oracle engine lacks xxhash64); its contract
  *    (determinism across partitionings, per-group permutation) is pinned
  *    by WindowsSpec instead, and the driver does a rows-only check.
  *  - Orders within events use event_id (unique) rather than raw ts as
  *    the window order where sub-microsecond ties could diverge between
  *    engines.
  *  - j10 uses squared euclidean distance: pure *,+,- double arithmetic
  *    is bit-identical across engines, unlike libm sin/cos.
  */
object Temporal {

  /** w11's oracle, shared verbatim by st02 (the stateful streaming
    * sessionizer must assign the batch session ids). */
  private[queries] val SessionizeOracleSql: String =
    """SELECT event_id,
      |       CAST(1 + sum(CASE WHEN epoch_us(ts) - prev > 1800000000 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id
      |FROM (SELECT *, lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |      FROM events)""".stripMargin

  /** w29's oracle, shared verbatim by st13 (the streaming run of the
    * same two-state recurrence must hash-match the batch SQL). */
  private[queries] val HoltOracleSql: String =
    s"""WITH RECURSIVE ${OracleSnippets.UserStepsCte},
      |scan AS (
      |  SELECT user_id, rn, event_id,
      |         CAST(value AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b
      |  FROM ev WHERE rn = 1
      |  UNION ALL
      |  SELECT e.user_id, e.rn, e.event_id,
      |         0.5 * CAST(e.value AS DOUBLE) + 0.5 * (s.l + s.b),
      |         0.25 * ((0.5 * CAST(e.value AS DOUBLE) + 0.5 * (s.l + s.b)) - s.l)
      |           + 0.75 * s.b
      |  FROM ev e JOIN scan s ON e.user_id = s.user_id AND e.rn = s.rn + 1)
      |SELECT user_id, event_id, l AS level, b AS trend,
      |       l + b AS forecast
      |FROM scan""".stripMargin

  /** w36's oracle, shared verbatim by st17 (the streaming run of the
    * same adaptive-gain recurrence must hash-match the batch SQL). */
  private[queries] val KalmanOracleSql: String =
    s"""WITH RECURSIVE ${OracleSnippets.UserStepsCte},
      |scan AS (
      |  SELECT user_id, rn, event_id,
      |         CAST(value AS DOUBLE) AS x, CAST(1.0 AS DOUBLE) AS p
      |  FROM ev WHERE rn = 1
      |  UNION ALL
      |  SELECT e.user_id, e.rn, e.event_id,
      |         s.x + ((s.p + 0.25) / ((s.p + 0.25) + 1.0))
      |             * (CAST(e.value AS DOUBLE) - s.x),
      |         (1.0 - ((s.p + 0.25) / ((s.p + 0.25) + 1.0))) * (s.p + 0.25)
      |  FROM ev e JOIN scan s ON e.user_id = s.user_id AND e.rn = s.rn + 1)
      |SELECT user_id, event_id, x AS kalman_level, p AS kalman_var
      |FROM scan""".stripMargin

  /** The per-type daily series the day-axis rows start from: one row
    * per event type and epoch `day` whose one aggregate is `item` of the
    * exact DECIMAL(18,4) value sum. The oracle twin is
    * `OracleSnippets.dailyTypeSumCte`. */
  private[queries] def dailyTypeSums(s: SparkSession, d: String)(
      item: Column => Column): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"))
      .agg(item(sum(col("value").cast("decimal(18,4)"))))

  /** j17's strict as-of lookup (shared by j20): each order with its
    * customer's max price on the latest earlier order date, rejected
    * past `toleranceSecs` (oracle twin `OracleSnippets.asOfPriceSql`). */
  private[queries] def priorPrice(s: SparkSession, d: String,
                                  toleranceSecs: Option[Long]): DataFrame = {
    val o = Tables.orders(s, d)
    val snap = o.select(col("o_custkey"), col("o_orderdate").as("snap_d"),
        col("o_totalprice"))
      .groupBy("o_custkey", "snap_d")
      .agg(max("o_totalprice").as("prev_price"))
    graft.operators.AsOfJoin.asOf(
        o.select("o_orderkey", "o_custkey", "o_orderdate"), snap,
        key = "o_custkey", leftTs = "o_orderdate", rightTs = "snap_d",
        strict = true, toleranceSecs = toleranceSecs)
      .select("o_orderkey", "o_custkey", "prev_price")
  }

  /** w34's decomposition inputs, shared by a59: the daily series with
    * its centred ±3-day trend, detrended `det` and `dow` slot (`t2`), and
    * the per-dow seasonal mean (`seas`). The oracle twin is
    * `OracleSnippets.SeasonalCtes`. */
  private[queries] def seasonalParts(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val w = Window.partitionBy("event_type").orderBy("day").rangeBetween(-3, 3)
    // seasonal agg + join-back share one window pass; event type x day
    val t2 = Materialize.small(dailyTypeSums(s, d)(_.as("xd"))
      .withColumn("x", col("xd").cast("double"))
      .withColumn("trend",
        sum("xd").over(w).cast("double") / count(lit(1)).over(w))
      .withColumn("det", col("x") - col("trend"))
      .withColumn("dow", col("day") % 7))
    val seas = t2.groupBy("event_type", "dow")
      .agg((sum(round(col("det"), 6).cast("decimal(18,6)")).cast("double")
        / count(lit(1))).as("seasonal"))
    (t2, seas)
  }

  val queries: Seq[Query] = Seq(

    // ---- W2: seeded stable shuffle -----------------------------------------
    // Deterministic seeded permutation per group (the reference's
    // set.seed + sample_n randomization contract). The cross-engine md5
    // ordering lets DuckDB replicate the EXACT permutation, so this is
    // a full oracle row; the xxhash64 default (same contract, faster)
    // is pinned by WindowsSpec determinism tests.
    Query("w02_seeded_shuffle",
      """SELECT c_custkey, c_mktsegment,
        |       CAST(row_number() OVER (PARTITION BY c_mktsegment
        |            ORDER BY md5(CAST(c_custkey AS VARCHAR) || '17'), c_custkey) AS INT)
        |         AS randomization_number
        |FROM customer""".stripMargin) { (s, d) =>
      Windows.seededShuffleRank(
        Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
        Seq("c_mktsegment"), "c_custkey", seed = 17L, crossEngine = true)
    },

    // ---- W7: forward fill ------------------------------------------------
    // Carry the last purchase amount forward across each user's events.
    Query("w07_forward_fill",
      """SELECT event_id,
        |       last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |         OVER (PARTITION BY user_id ORDER BY event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase
        |FROM events""".stripMargin) {
      (s, d) => Windows.forwardFill(
          Tables.events(s, d).withColumn("last_purchase",
            when(col("event_type") === "purchase", col("value"))),
          Seq("user_id"), Seq(col("event_id")), Seq("last_purchase"))
        .select("event_id", "last_purchase")
    },

    // ---- W11: per-key ordered recurrence (gap sessionization) -------------
    // The scanPerKey secondary-sort operator; oracle is the closed-form
    // gap-flag running sum, which equals the recurrence for this instance.
    Query("w11_sessionize", SessionizeOracleSql) {
      (s, d) => Sessionize.sessionize(Tables.events(s, d), "user_id", "ts",
          "event_id", gapMicros = 1800L * 1000000)
        .select("event_id", "session_id")
    },

    // ---- W12: as-of weekly snapshots ---------------------------------------
    // For each weekly run_date, the table as it looked then. The oracle
    // states the semantics as the reference's snapshot crossJoin; the
    // plan instead assigns every event its EARLIEST qualifying snapshot
    // and prefix-sums over the snapshot dim — at 100x snapshots the
    // crossJoin multiplies the fact table, this stays two hash
    // aggregates over events plus windows on a #snapshots-row table
    // ("n as-of k" = running sum of "n new at k"; "distinct users as-of
    // k" = running count of first-appearance snapshots).
    Query("w12_asof_snapshots",
      """SELECT CAST(w.run_date AS DATE) AS run_date, count(*) AS n_events,
        |       count(DISTINCT e.user_id) AS n_users
        |FROM (SELECT unnest(generate_series(DATE '2024-01-08', DATE '2024-01-29',
        |                                    INTERVAL 7 DAY)) AS run_date) w
        |JOIN events e ON CAST(e.ts AS DATE) <= CAST(w.run_date AS DATE)
        |GROUP BY 1""".stripMargin) {
      (s, d) => {
        val base = lit("2024-01-08").cast("date")
        val evK = Tables.events(s, d)
          .select(col("user_id"),
            greatest(lit(0L), ceil(datediff(to_date(col("ts")), base) / 7.0)).as("k"))
          .filter(col("k") <= 3)
        val newEvents = evK.groupBy("k").agg(count(lit(1)).as("n_new"))
        val newUsers = evK.groupBy("user_id").agg(min(col("k")).as("k"))
          .groupBy("k").agg(count(lit(1)).as("u_new"))
        // snapshot dim: 4 rows — the only ordered window in the plan
        val w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
        s.range(0, 4).select(col("id").as("k"))
          .join(newEvents, Seq("k"), "left")
          .join(newUsers, Seq("k"), "left")
          .withColumn("n_events", sum(coalesce(col("n_new"), lit(0L))).over(w))
          .withColumn("n_users", sum(coalesce(col("u_new"), lit(0L))).over(w))
          .select(date_add(base, (col("k") * 7).cast("int")).as("run_date"),
            col("n_events"), col("n_users"))
      }
    },

    // ---- J17: as-of join (union-form, single shuffle) ------------------------
    // Each order looks up the customer's max order value from the most
    // recent PRIOR order day — the prices→trades / snapshot-lookup shape.
    // The engine never joins: both sides union, sort per key, and the
    // payload forward-fills (AsOfJoin.asOf, strict). The oracle is
    // DuckDB's native ASOF LEFT JOIN with the same strict bound.
    Query("j17_asof_join", OracleSnippets.asOfPriceSql("s.prev_price")) {
      (s, d) => priorPrice(s, d, toleranceSecs = None)
    },

    // ---- J20: as-of join with staleness tolerance ---------------------------
    // j17's union-form as-of plus the production guard: a matched
    // snapshot older than 7 days is rejected (payload nulls) — the rule
    // that stops a key that went quiet a year ago from silently
    // enriching today's rows with fossil state. Same one-exchange plan;
    // the matched timestamp rides inside the payload struct and the
    // gate is a post-fill projection.
    Query("j20_asof_tolerance", OracleSnippets.asOfPriceSql(
      """CASE WHEN o.o_orderdate - s.d <= INTERVAL 7 DAY
        |            THEN s.prev_price END AS prev_price""".stripMargin)) {
      (s, d) => priorPrice(s, d, toleranceSecs = Some(7L * 86400))
    },

    // ---- W11b: native session_window (idiomatic counterpart of w11) ---------
    // Spark's built-in session aggregation; the oracle derives the same
    // sessions via the gap-flag running sum and aggregates per session.
    Query("w14_session_window",
      """WITH ids AS (
        |  SELECT user_id, ts,
        |         CAST(1 + sum(CASE WHEN epoch_us(ts) - prev >= 1800000000 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS sid
        |  FROM (SELECT *, lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |        FROM events))
        |SELECT user_id, min(ts) AS session_start, CAST(count(*) AS BIGINT) AS n_events
        |FROM ids GROUP BY user_id, sid""".stripMargin) {
      (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(min(col("ts")).as("session_start"), count(lit(1)).as("n_events"))
        .select("user_id", "session_start", "n_events")
    },

    // ---- date-part surface: floor-to-week, day-of-week ------------------------
    // Numbering parity: Spark dayofweek is 1=Sunday..7; DuckDB dayofweek
    // is 0=Sunday..6 → +1 in the oracle. Both date_trunc('week') floor to
    // Monday.
    Query("t09_date_parts",
      """SELECT event_id,
        |       CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week_start,
        |       CAST(dayofweek(CAST(ts AS DATE)) + 1 AS INT) AS dow
        |FROM events""".stripMargin) {
      (s, d) => Tables.events(s, d).select(col("event_id"),
        date_trunc("week", to_date(col("ts"))).cast("date").as("week_start"),
        dayofweek(to_date(col("ts"))).as("dow"))
    },

    // ---- R1 (two-valued): status+reason wide profile per person --------------
    // The efficacy report shape: one row per user, status_V* AND reason_V*
    // columns from the long visit table. Spark pivot with two aliased
    // aggregations yields V{n}_status / V{n}_reason.
    Query("r12_status_reason_matrix",
      """WITH obs AS (
        |  SELECT user_id, vn, event_type AS status,
        |         CAST(round(value, 2) AS VARCHAR) AS reason FROM (
        |    SELECT user_id, 1 + (CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS vn,
        |           event_type, value,
        |           row_number() OVER (
        |             PARTITION BY user_id, 1 + (CAST(ts AS DATE) - DATE '2024-01-01') // 7
        |             ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) WHERE rn = 1 AND vn <= 3)
        |SELECT user_id,
        |  max(CASE WHEN vn = 1 THEN status END) AS V1_status,
        |  max(CASE WHEN vn = 1 THEN reason END) AS V1_reason,
        |  max(CASE WHEN vn = 2 THEN status END) AS V2_status,
        |  max(CASE WHEN vn = 2 THEN reason END) AS V2_reason,
        |  max(CASE WHEN vn = 3 THEN status END) AS V3_status,
        |  max(CASE WHEN vn = 3 THEN reason END) AS V3_reason
        |FROM obs GROUP BY user_id""".stripMargin) {
      (s, d) => {
        val vn = lit(1) + floor(datediff(to_date(col("ts")), lit("2024-01-01").cast("date")) / 7)
        val obs = Windows.latestPerGroup(
            Tables.events(s, d).withColumn("vn", vn).filter(col("vn") <= 3),
            Seq("user_id", "vn"), Seq(col("ts"), col("event_id")))
          .select(col("user_id"), concat(lit("V"), col("vn").cast("string")).as("visit"),
            col("event_type").as("status"),
            round(col("value"), 2).cast("string").as("reason"))
        obs.groupBy("user_id")
          .pivot("visit", Seq("V1", "V2", "V3"))
          .agg(max(col("status")).as("status"), max(col("reason")).as("reason"))
      }
    },

    // ---- W13: aging buckets --------------------------------------------------
    Query("w13_aging_buckets",
      """SELECT CASE WHEN age_days < 10 THEN '0-10' WHEN age_days < 20 THEN '10-20'
        |            ELSE '>20' END AS bucket, count(*) AS n
        |FROM (SELECT datediff('day', CAST(ts AS DATE), DATE '2024-02-15') AS age_days
        |      FROM events)
        |GROUP BY 1""".stripMargin) {
      (s, d) => Tables.events(s, d)
        .withColumn("age_days", datediff(lit("2024-02-15").cast("date"), to_date(col("ts"))))
        .withColumn("bucket",
          when(col("age_days") < 10, "0-10")
            .when(col("age_days") < 20, "10-20")
            .otherwise(">20"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
    },

    // ---- W17: debounce/throttle (keep-first within gap of last KEPT) --------
    // A true recurrence: the 30-minute threshold advances only when a
    // row is kept, which no window/lag can express — the per-key scan
    // (same machinery as the w15 RDT machine) carries the last-kept
    // timestamp; the oracle replays it with a row-stepping recursive
    // CTE. The event-throttling shape every alerting/notification
    // pipeline needs.
    // ---- W18: per-key EWMA (a second true recurrence on the scan) -----------
    // Exponential smoothing of each user's value stream: y_1 = x_1,
    // y_i = 0.5*x_i + 0.5*y_(i-1). No window frame expresses a value
    // recurrence, so it rides the debounce/RDT secondary-sort scan; the
    // oracle replays the fold with the identical operation order, so
    // the IEEE doubles hash-match exactly.
    Query("w18_ewma",
      s"""WITH RECURSIVE ${OracleSnippets.UserStepsCte},
        |scan AS (
        |  SELECT user_id, rn, event_id, CAST(value AS DOUBLE) AS y
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, e.event_id,
        |         0.5 * CAST(e.value AS DOUBLE) + 0.5 * s.y
        |  FROM ev e JOIN scan s ON e.user_id = s.user_id AND e.rn = s.rn + 1)
        |SELECT user_id, event_id, y AS ewma FROM scan""".stripMargin) {
      (s, d) => graft.operators.Sessionize.ewma(
          Tables.events(s, d).select("user_id", "event_id", "ts", "value"),
          "user_id", "ts", "event_id", "value", alpha = 0.5)
        .select("user_id", "event_id", "ewma")
    },

    // ---- W29: Holt double-exponential smoothing (level + trend) -----------
    // w18's EWMA with a trend state: the one-step forecaster for
    // drifting series (Holt 1957 — the standard before seasonal
    // Holt-Winters, whose seasonal half a33 covers). A coupled TWO-state
    // recurrence — strictly beyond lag()/windows — riding the same
    // secondary-sort scan; the oracle replays the identical fold order
    // step by step (recursive CTE), so doubles match bit-for-bit.
    // alpha=0.5, beta=0.25 are dyadic: (1-alpha)/(1-beta) are exact.
    // ---- W30: additive Holt-Winters (level + trend + weekly seasonal) ------
    // The full classical smoother, completing w18 (EWMA) and w29
    // (Holt): a coupled THREE-part recurrence whose seasonal state is a
    // 7-slot array keyed by epoch-day % 7 (calendar slots survive
    // gaps). The oracle carries the array through the recursive CTE as
    // a LIST column, updating one slot per step with list_transform —
    // same operation order as the scan, bit-identical doubles. Daily
    // inputs are exact DECIMAL sums cast once to double (avg would not
    // be order-stable cross-engine). Output is |types| x |days| rows
    // regardless of event volume.
    Query("w30_holt_winters",
      s"""WITH RECURSIVE ${dailyTypeSumCte(xs => s"CAST($xs AS DOUBLE) AS x")},
        |ev AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |       FROM d),
        |scan AS (
        |  SELECT event_type, rn, day, x AS l, CAST(0 AS DOUBLE) AS b,
        |         list_transform(range(1, 8), i -> CAST(0 AS DOUBLE)) AS sv
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT e.event_type, e.rn, e.day,
        |         0.5 * (e.x - s.sv[CAST(e.day % 7 + 1 AS INT)]) + 0.5 * (s.l + s.b),
        |         0.25 * ((0.5 * (e.x - s.sv[CAST(e.day % 7 + 1 AS INT)])
        |                    + 0.5 * (s.l + s.b)) - s.l) + 0.75 * s.b,
        |         list_transform(range(1, 8), i ->
        |           CASE WHEN i = e.day % 7 + 1
        |                THEN 0.25 * (e.x - (0.5 * (e.x - s.sv[CAST(e.day % 7 + 1 AS INT)])
        |                                      + 0.5 * (s.l + s.b)))
        |                     + 0.75 * s.sv[CAST(e.day % 7 + 1 AS INT)]
        |                ELSE s.sv[i] END)
        |  FROM ev e JOIN scan s ON e.event_type = s.event_type AND e.rn = s.rn + 1)
        |SELECT event_type, day, l AS level, b AS trend,
        |       sv[CAST(day % 7 + 1 AS INT)] AS seasonal
        |FROM scan""".stripMargin) {
      (s, d) => {
        val daily = dailyTypeSums(s, d)(_.cast("double").as("x"))
        graft.operators.Sessionize.holtWinters(daily, "event_type", "day", "x",
            period = 7, alpha = 0.5, beta = 0.25, gamma = 0.25)
          .select("event_type", "day", "level", "trend", "seasonal")
      }
    },

    // ---- W32: two-sided CUSUM change-point detection -----------------------
    // Page's sequential drift detector over the per-type daily series
    // (w30's decimal-sum daily prep): deviations from the key's first
    // observation ACCUMULATE into S+/S- with slack k = 0.25|ref|, alarm
    // at h = |ref|, reset after alarm — the small-persistent-shift
    // detector a12's fixed threshold and w26's rolling z both miss. The
    // recurrence (reset included) is non-windowable; the oracle replays
    // the identical operation order through a recursive CTE (w29/w30
    // precedent), dyadic 0.25 and abs keep the doubles bit-identical.
    Query("w32_cusum",
      s"""WITH RECURSIVE ${dailyTypeSumCte(xs => s"CAST($xs AS DOUBLE) AS x")},
        |ev AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |       FROM d),
        |${cusumScan("event_type", "day")}
        |SELECT event_type, day, sp AS s_pos, sn AS s_neg, alarm
        |FROM scan""".stripMargin) {
      (s, d) => {
        val daily = dailyTypeSums(s, d)(_.cast("double").as("x"))
        graft.operators.Sessionize.cusum(daily, "event_type", "day", "x",
            slackFrac = 0.25, threshFrac = 1.0)
          .select("event_type", "day", "s_pos", "s_neg", "alarm")
      }
    },

    // ---- W34: additive seasonal decomposition (trend + seasonal + resid) ---
    // The classical decomposition a33's baseline model stops short of:
    // per-type daily series splits into a centered ±3-day moving-average
    // trend (RANGE frame on the day axis — calendar-correct across
    // missing days), a day-of-week seasonal profile (mean of the
    // detrended values per dow), and the residual. Exactness: the
    // trend numerator window-sums DECIMALs (window sums of doubles are
    // frame-order-dependent); detrended values round to 6 dp DECIMAL
    // before the seasonal mean; every double op after aggregation is a
    // single fixed-order scalar. Seasonal join-back broadcasts
    // (|types| x 7 rows).
    Query("w34_seasonal_decompose",
      s"""WITH $SeasonalCtes
        |SELECT t2.event_type, t2.day, t2.x, t2.trend, s.seasonal,
        |       t2.det - s.seasonal AS resid
        |FROM t2 JOIN s ON t2.event_type = s.event_type AND t2.dow = s.dow"""
        .stripMargin) {
      (s, d) => {
        val (t2, seas) = seasonalParts(s, d)
        t2.join(broadcast(seas), Seq("event_type", "dow"))
          .select(col("event_type"), col("day"), col("x"), col("trend"),
            col("seasonal"), (col("det") - col("seasonal")).as("resid"))
      }
    },

    // ---- W48: Wilder RSI (bounded momentum oscillator) ---------------------
    // The missing member of the w18/w42 smoothing family: EWMA and MACD
    // track LEVEL; RSI tracks the gain/loss BALANCE on a 0-100 scale, so
    // thresholds transfer across series of any magnitude (the reason
    // monitoring dashboards prefer it). Two Wilder recurrences (dyadic
    // alpha 1/16) over the per-user delta stream from ONE O(1)-state
    // secondary-sort scan; the oracle replays the identical fold as a
    // recursive CTE, so doubles hash-match bit-for-bit (w29 contract).
    // Degenerate conventions pinned both sides: flat-so-far → 50,
    // loss-free → 100.
    Query("w48_rsi",
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, event_id, CAST(value AS DOUBLE) AS x,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events),
        |sc AS (
        |  SELECT user_id, event_id, rn, x AS px,
        |         CAST(0.0 AS DOUBLE) AS ag, CAST(0.0 AS DOUBLE) AS al
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_id, e.rn, e.x,
        |         s.ag + (greatest(e.x - s.px, CAST(0.0 AS DOUBLE)) - s.ag)
        |           * 0.0625,
        |         s.al + (greatest(s.px - e.x, CAST(0.0 AS DOUBLE)) - s.al)
        |           * 0.0625
        |  FROM ev e JOIN sc s ON e.user_id = s.user_id AND e.rn = s.rn + 1)
        |SELECT user_id, event_id, ag AS avg_gain, al AS avg_loss,
        |       CASE WHEN ag = 0 AND al = 0 THEN 50.0
        |            WHEN al = 0 THEN 100.0
        |            ELSE 100.0 - 100.0 / (1.0 + ag / al) END AS rsi
        |FROM sc""".stripMargin) {
      (s, d) => graft.operators.Sessionize.rsi(
          Tables.events(s, d)
            .select(col("user_id"), col("event_id"), col("ts"),
              col("value").cast("double").as("x")),
          "user_id", "ts", "event_id", "x")
        .select("user_id", "event_id", "avg_gain", "avg_loss", "rsi")
    },

    Query("w29_holt_smoothing", HoltOracleSql) {
      (s, d) => graft.operators.Sessionize.holt(
          Tables.events(s, d).select("user_id", "event_id", "ts", "value"),
          "user_id", "ts", "event_id", "value", alpha = 0.5, beta = 0.25)
        .select(col("user_id"), col("event_id"), col("level"), col("trend"),
          (col("level") + col("trend")).as("forecast"))
    },

    // ---- w38: data-freshness / gap audit per key -------------------------------
    // The missingness report w11/w17 imply but never emit: per user,
    // how many silent gaps (> 6 h between consecutive events), the
    // worst one, and when the series was last seen — the monitoring
    // table a pipeline SLA dashboard reads. One lag window + one hash
    // agg, exact microsecond integers end to end.
    Query("w38_gap_report",
      """WITH g AS (
        |  SELECT user_id, epoch_us(ts) AS t,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                                 ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(count(CASE WHEN t - prev > 21600000000 THEN 1 END) AS BIGINT)
        |         AS n_gaps,
        |       CAST(max(t - prev) AS BIGINT) AS max_gap_us,
        |       CAST(max(t) AS BIGINT) AS last_seen_us
        |FROM g GROUP BY 1""".stripMargin) {
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("ts"),
            unix_micros(col("ts")).as("t"))
          .withColumn("prev", lag(col("t"), 1).over(w))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            count(when(col("t") - col("prev") > 21600000000L, 1)).as("n_gaps"),
            max(col("t") - col("prev")).as("max_gap_us"),
            max(col("t")).as("last_seen_us"))
      }
    },

    // ---- w37: one-step forecast backtest (model-selection harness) ----------
    // Which smoother should monitor each user's series? Replay naive
    // (lag-1), EWMA (w18) and Holt (w29) over the history and score the
    // ONE-STEP-AHEAD errors: pred at row i is the model state at row
    // i-1 (lag of the recurrence output), MAE per (user, model).
    // Predictions are bit-identical to the oracle's recursive replays;
    // each |error| rounds to 6dp and sums through DECIMAL so the
    // per-user fold order can't smear the mean.
    Query("w37_forecast_backtest",
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, event_id, CAST(value AS DOUBLE) AS x,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |hs AS (
        |  SELECT user_id, rn, x, x AS l, CAST(0.0 AS DOUBLE) AS b
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, e.x,
        |         0.5 * e.x + 0.5 * (s.l + s.b),
        |         0.25 * ((0.5 * e.x + 0.5 * (s.l + s.b)) - s.l) + 0.75 * s.b
        |  FROM ev e JOIN hs s ON e.user_id = s.user_id AND e.rn = s.rn + 1),
        |es AS (
        |  SELECT user_id, rn, x, x AS m FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, e.x, 0.5 * e.x + 0.5 * s.m
        |  FROM ev e JOIN es s ON e.user_id = s.user_id AND e.rn = s.rn + 1),
        |errs AS (
        |  SELECT user_id, 'naive' AS model,
        |         CAST(floor(abs(x - lag(x) OVER (PARTITION BY user_id ORDER BY rn))
        |                    * 1000000.0 + 0.5) AS BIGINT) AS ae
        |  FROM ev
        |  UNION ALL
        |  SELECT user_id, 'ewma',
        |         CAST(floor(abs(x - lag(m) OVER (PARTITION BY user_id ORDER BY rn))
        |                    * 1000000.0 + 0.5) AS BIGINT)
        |  FROM es
        |  UNION ALL
        |  SELECT user_id, 'holt',
        |         CAST(floor(abs(x - lag(l + b) OVER (PARTITION BY user_id ORDER BY rn))
        |                    * 1000000.0 + 0.5) AS BIGINT)
        |  FROM hs)
        |SELECT user_id, model, count(ae) AS n,
        |       CAST(sum(ae) AS DOUBLE) / 1000000.0 / count(ae) AS mae
        |FROM errs WHERE ae IS NOT NULL
        |GROUP BY 1, 2""".stripMargin) {
      (s, d) => {
        val evd = Tables.events(s, d)
          .select("user_id", "event_id", "ts", "value")
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        // floor(x*1e6 + .5), not round(x, 6): round()'s half-case on an
        // exact binary double differs across engines (BigDecimal HALF_UP
        // vs multiply-and-rint); the floor quantizer is pure IEEE ops on
        // bit-identical inputs, so the BIGINT micro-units match exactly
        def leg(df: org.apache.spark.sql.DataFrame, model: String,
                pred: org.apache.spark.sql.Column) =
          df.select(col("user_id"), lit(model).as("model"),
            floor(abs(col("value").cast("double") - lag(pred, 1).over(w))
              * lit(1000000.0) + lit(0.5)).cast("long").as("ae"))
        val naive = leg(evd, "naive", col("value").cast("double"))
        val ew = leg(graft.operators.Sessionize.ewma(
          evd, "user_id", "ts", "event_id", "value", alpha = 0.5), "ewma", col("ewma"))
        val ho = leg(graft.operators.Sessionize.holt(
          evd, "user_id", "ts", "event_id", "value", alpha = 0.5, beta = 0.25),
          "holt", col("level") + col("trend"))
        naive.unionByName(ew).unionByName(ho)
          .filter(col("ae").isNotNull)
          .groupBy("user_id", "model")
          .agg(count(col("ae")).as("n"),
            (sum(col("ae")).cast("double") / lit(1000000.0) / count(col("ae")))
              .as("mae"))
      }
    },

    // ---- w36: Kalman filter (local-level model) ---------------------------
    // Adaptive-gain smoother over each user's value series: w18's EWMA
    // with a learned gain. q = 0.25, r = 1.0 (dyadic), x0 = first
    // observation, P0 = 1. The oracle replays the identical predict/
    // gain/update operation order through a recursive CTE, so doubles
    // match bit-for-bit (division is IEEE-exact, not libm).
    Query("w36_kalman", KalmanOracleSql) {
      (s, d) => graft.operators.Sessionize.kalman(
          Tables.events(s, d).select("user_id", "event_id", "ts", "value"),
          "user_id", "ts", "event_id", "value", q = 0.25, r = 1.0)
        .select("user_id", "event_id", "kalman_level", "kalman_var")
    },

    Query("w17_debounce",
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |scan AS (
        |  SELECT user_id, rn, event_id, t, TRUE AS kept, t AS last_kept
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, e.event_id, e.t,
        |         e.t - s.last_kept > 1800000000 AS kept,
        |         CASE WHEN e.t - s.last_kept > 1800000000 THEN e.t
        |              ELSE s.last_kept END
        |  FROM ev e JOIN scan s ON e.user_id = s.user_id AND e.rn = s.rn + 1)
        |SELECT user_id, event_id FROM scan WHERE kept""".stripMargin) {
      (s, d) => graft.operators.Sessionize.debounce(
          Tables.events(s, d).select("user_id", "event_id", "ts"),
          "user_id", "ts", "event_id", minGapMicros = 1800000000L)
        .filter(col("kept")).select("user_id", "event_id")
    },

    // ---- W16: RANGE-frame trailing window ------------------------------------
    // The value-range window frame (every other window here is
    // row-framed): per user, the trailing-30-minute sum and count at
    // each event. Frames are defined by the TIME RANGE, so peers and
    // gaps behave differently from rowsBetween — both engines order by
    // epoch microseconds and the sum is decimal-routed (a double sum
    // would be frame-order-dependent).
    Query("w16_trailing_range",
      """SELECT event_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS trailing_sum,
        |  CAST(count(*) OVER w AS BIGINT) AS n_trailing
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)""".stripMargin) {
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(unix_micros(col("ts")))
          .rangeBetween(-1800000000L, 0L)
        Tables.events(s, d).select(col("event_id"),
          sum(col("value").cast("decimal(18,4)")).over(w).cast("double")
            .as("trailing_sum"),
          count(lit(1)).over(w).cast("long").as("n_trailing"))
      }
    },

    // ---- J7: self-join mapping mismatch --------------------------------------
    // Customers holding orders with conflicting priorities (pairs counted
    // once, a < b on the key).
    Query("j07_self_join_mismatch",
      """SELECT a.o_custkey, count(*) AS n_conflicts
        |FROM orders a JOIN orders b
        |  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
        |WHERE a.o_orderpriority <> b.o_orderpriority
        |GROUP BY a.o_custkey""".stripMargin) {
      (s, d) => {
        val o = Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_orderpriority")
        val b = o.toDF("b_custkey", "b_orderkey", "b_orderpriority")
        o.join(b, col("o_custkey") === col("b_custkey") &&
                  col("o_orderkey") < col("b_orderkey"))
          .filter(col("o_orderpriority") =!= col("b_orderpriority"))
          .groupBy("o_custkey").agg(count(lit(1)).as("n_conflicts"))
      }
    },

    // ---- J10: nearest-neighbour join -------------------------------------------
    // Each customer point to its nearest supplier "facility" in a synthetic
    // 2-D space; broadcast small side + row_number, no full distance matrix
    // materialized.
    Query("j10_nearest_neighbor",
      """SELECT c_custkey, s_suppkey, dist2 FROM (
        |  SELECT c.c_custkey, s.s_suppkey,
        |         (c.c_acctbal - s.s_acctbal) * (c.c_acctbal - s.s_acctbal)
        |           + CAST((c.c_custkey % 100) - (s.s_suppkey % 100) AS DOUBLE)
        |             * CAST((c.c_custkey % 100) - (s.s_suppkey % 100) AS DOUBLE) AS dist2,
        |         row_number() OVER (PARTITION BY c.c_custkey
        |                            ORDER BY (c.c_acctbal - s.s_acctbal) * (c.c_acctbal - s.s_acctbal)
        |                              + CAST((c.c_custkey % 100) - (s.s_suppkey % 100) AS DOUBLE)
        |                                * CAST((c.c_custkey % 100) - (s.s_suppkey % 100) AS DOUBLE),
        |                              s.s_suppkey) AS rn
        |  FROM customer c CROSS JOIN supplier s) WHERE rn = 1""".stripMargin) {
      (s, d) => {
        // Single-pass argmin: ArgMinLongByDouble keeps a (double, long)
        // primitive buffer, so the crossJoin pairs fold map-side inside a
        // codegen'd HashAggregate — one scan of each table, no window
        // shuffle of every pair, no O(N) broadcast of a per-customer
        // minima table (the shape this replaced; see plans/ArgMin.scala).
        val c = Tables.customer(s, d).select("c_custkey", "c_acctbal")
        val f = Tables.supplier(s, d).select("s_suppkey", "s_acctbal")
        val dx = col("c_acctbal") - col("s_acctbal")
        val dy = ((col("c_custkey") % 100) - (col("s_suppkey") % 100)).cast("double")
        c.crossJoin(broadcast(f)).withColumn("dist2", dx * dx + dy * dy)
          .groupBy("c_custkey")
          .agg(graft.plans.ArgMin.longByDouble(col("s_suppkey"), col("dist2")).as("am"))
          .select(col("c_custkey"), col("am.key").as("s_suppkey"),
            col("am.ord").as("dist2"))
      }
    },

    // ---- W15: RDT incident-case state machine ----------------------------------
    // The reference's flagship recurrence (evaluate_rdts.R:84-131) over a
    // deterministic fixture synthesized from events (md5-derived test
    // results, cumulative skips for the visit-number rule). The oracle
    // replays the row-by-row recurrence as a recursive CTE; nullable
    // outputs are cast to VARCHAR so both engines agree on NA handling.
    Query("w15_rdt_cases",
      """WITH RECURSIVE base AS (
        |  SELECT user_id AS person,
        |         CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE user_id < 300
        |), fix AS (
        |  SELECT person, day, rn,
        |    CASE WHEN substring(md5(CAST(person AS VARCHAR) || ':' || CAST(rn AS VARCHAR) || ':a'), 1, 2) < '28' THEN 'Positive'
        |         WHEN substring(md5(CAST(person AS VARCHAR) || ':' || CAST(rn AS VARCHAR) || ':a'), 1, 2) < 'c8' THEN 'Negative'
        |         ELSE '' END AS pan_result,
        |    CASE WHEN substring(md5(CAST(person AS VARCHAR) || ':' || CAST(rn AS VARCHAR) || ':b'), 1, 2) < '40' THEN 'Positive'
        |         WHEN substring(md5(CAST(person AS VARCHAR) || ':' || CAST(rn AS VARCHAR) || ':b'), 1, 2) < 'b0' THEN 'Negative'
        |         ELSE '' END AS pf_result,
        |    CASE WHEN substring(md5(CAST(person AS VARCHAR) || ':' || CAST(rn AS VARCHAR) || ':c'), 1, 1) < '8' THEN 'yes'
        |         ELSE 'no' END AS child_took_coartem,
        |    CAST(rn + sum(CASE WHEN substring(md5(CAST(person AS VARCHAR) || ':' || CAST(rn AS VARCHAR) || ':d'), 1, 1) < '4' THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY person ORDER BY rn) AS INT) AS visit_number
        |  FROM base WHERE rn <= 6
        |), rec AS (
        |  SELECT person, rn, visit_number, day, pf_result, child_took_coartem,
        |         CAST(NULL AS INT) AS days_since_prev,
        |         CAST(NULL AS INT) AS days_at_risk,
        |         (pan_result = 'Positive' OR pf_result = 'Positive') AS incident_case
        |  FROM fix WHERE rn = 1
        |  UNION ALL
        |  SELECT f.person, f.rn, f.visit_number, f.day, f.pf_result, f.child_took_coartem,
        |         CAST(f.day - r.day AS INT),
        |         CAST(f.day - r.day - CASE WHEN r.child_took_coartem = 'yes' THEN 14 ELSE 0 END AS INT),
        |         CASE WHEN f.pan_result = 'Positive' THEN TRUE
        |              WHEN f.pf_result = 'Negative' THEN FALSE
        |              WHEN f.pf_result = 'Positive' THEN
        |                CASE WHEN f.visit_number <> r.visit_number + 1 THEN TRUE
        |                     WHEN r.incident_case = FALSE THEN TRUE
        |                     WHEN r.pf_result <> 'Positive' THEN TRUE
        |                     WHEN r.child_took_coartem = 'yes' THEN FALSE
        |                     ELSE TRUE END
        |              ELSE NULL END
        |  FROM fix f JOIN rec r ON f.person = r.person AND f.rn = r.rn + 1
        |)
        |SELECT person, visit_number,
        |       CAST(days_since_prev AS VARCHAR) AS days_since_prev,
        |       CAST(days_at_risk AS VARCHAR) AS days_at_risk,
        |       CAST(incident_case AS VARCHAR) AS incident_case
        |FROM rec""".stripMargin) {
      (s, d) => {
        val rnW = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val base = Tables.events(s, d).filter(col("user_id") < 300)
          .select(col("user_id").as("person"),
            floor(unix_micros(col("ts")) / lit(86400000000L).cast("double")).cast("bigint").as("day"),
            row_number().over(rnW).as("rn"))
          .filter(col("rn") <= 6)
        def h(salt: String, width: Int) =
          substring(md5(concat_ws(":", col("person"), col("rn"), lit(salt))), 1, width)
        val skipW = Window.partitionBy("person").orderBy("rn")
          .rowsBetween(Window.unboundedPreceding, 0)
        val fix = base.select(col("person"), col("day"), col("rn"),
          when(h("a", 2) < "28", "Positive").when(h("a", 2) < "c8", "Negative")
            .otherwise("").as("pan_result"),
          when(h("b", 2) < "40", "Positive").when(h("b", 2) < "b0", "Negative")
            .otherwise("").as("pf_result"),
          when(h("c", 1) < "8", "yes").otherwise("no").as("child_took_coartem"),
          (col("rn") + sum(when(h("d", 1) < "4", 1).otherwise(0)).over(skipW))
            .cast("int").as("visit_number"))
        graft.operators.RdtScan.evaluate(fix, "person", "visit_number", "day")
          .select(col("person"), col("visit_number"),
            col("days_since_prev").cast("string").as("days_since_prev"),
            col("days_at_risk").cast("string").as("days_at_risk"),
            col("incident_case").cast("string").as("incident_case"))
      }
    },

    // ---- w21: cumulative distinct via first-occurrence --------------------
    // Running "customers ever seen" by week WITHOUT an expanding
    // count(DISTINCT) window (that naive form recounts the whole history
    // per week — O(weeks × customers) and an unbounded-frame shuffle
    // monster). The identity: a key joins the cumulative set exactly
    // once, at its FIRST occurrence — so two hash aggregates (first week
    // per key, new keys per week) and one tiny running sum over the
    // ~|weeks| rollup produce the same curve at any scale.
    Query("w21_cumulative_distinct",
      """WITH f AS (SELECT o_custkey,
        |         min(date_trunc('week', CAST(o_orderdate AS DATE))) AS fw
        |       FROM orders GROUP BY 1),
        |w AS (SELECT CAST(fw AS DATE) AS wk, count(*) AS new_cust FROM f GROUP BY 1)
        |SELECT datediff('day', DATE '1970-01-01', wk) AS week_day, new_cust,
        |       CAST(sum(new_cust) OVER (ORDER BY wk) AS BIGINT) AS cum_distinct
        |FROM w""".stripMargin) {
      (s, d) => {
        val firstWk = Tables.orders(s, d)
          .groupBy("o_custkey")
          .agg(min(unix_date(to_date(date_trunc("week", col("o_orderdate")))))
            .as("week_day"))
        val weekly = firstWk.groupBy("week_day")
          .agg(count(lit(1)).as("new_cust"))
        val w = Window.orderBy("week_day")
          .rowsBetween(Window.unboundedPreceding, 0)
        weekly.select(col("week_day").cast("bigint").as("week_day"),
          col("new_cust"),
          sum(col("new_cust")).over(w).as("cum_distinct"))
      }
    },

    // ---- w20: rank-family cohort bucketing --------------------------------
    // The remaining ordered-rank surface in one row: decile assignment
    // (ntile), relative rank (percent_rank), and cumulative distribution
    // (cume_dist) per customer spend — the cohort/segmentation shape.
    // Unique (total, custkey) tiebreak makes all three deterministic.
    // One exchange: the three functions share a single window spec. The
    // unpartitioned window is a deliberate post-aggregation shape — it
    // ranks the per-customer rollup (orders of magnitude smaller than
    // the fact table), the same single-reducer budget as a global
    // ORDER BY report; ranking the raw corpus would instead go through
    // a23's histogram-quantile route.
    Query("w20_ntile_cohorts",
      """WITH spend AS (
        |  SELECT o_custkey,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |  FROM orders GROUP BY 1)
        |SELECT o_custkey, total,
        |       ntile(10) OVER w AS decile,
        |       round(percent_rank() OVER w, 9) AS pr,
        |       round(cume_dist() OVER w, 9) AS cd
        |FROM spend WINDOW w AS (ORDER BY total DESC, o_custkey)""".stripMargin) {
      (s, d) => {
        val w = Window.orderBy(col("total").desc, col("o_custkey"))
        Tables.orders(s, d).groupBy("o_custkey")
          .agg(sum(col("o_totalprice").cast("decimal(18,4)")).cast("double")
            .as("total"))
          .select(col("o_custkey"), col("total"),
            ntile(10).over(w).as("decile"),
            round(percent_rank().over(w), 9).as("pr"),
            round(cume_dist().over(w), 9).as("cd"))
      }
    },

    // ---- w19: ordered conversion funnel (MATCH_RECOGNIZE-lite) ------------
    // Stage cascade view -> click -> purchase where each stage's earliest
    // timestamp must come strictly after the previous stage's — the
    // funnel/conversion operator of product analytics. Plan: ONE shuffle
    // on user_id feeds three chained Window nodes (each stage's min is a
    // conditional window over the SAME partitioning — no re-exchange; a
    // null previous stage nulls the condition, so the cascade
    // short-circuits for free) and the per-user aggregate reuses the
    // partitioning too. The join-per-stage formulation the oracle uses
    // would cost one shuffle per stage at scale.
    Query("w19_funnel_stages",
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tu FROM events),
        |t1 AS (SELECT user_id, min(tu) AS v FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(tu) AS c FROM e JOIN t1 USING (user_id)
        |       WHERE event_type = 'click' AND tu > t1.v GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(tu) AS p FROM e JOIN t2 USING (user_id)
        |       WHERE event_type = 'purchase' AND tu > t2.c GROUP BY 1)
        |SELECT u.user_id, t1.v AS view_ts, t2.c AS click_ts, t3.p AS purchase_ts,
        |       CASE WHEN t3.p IS NOT NULL THEN 3 WHEN t2.c IS NOT NULL THEN 2
        |            WHEN t1.v IS NOT NULL THEN 1 ELSE 0 END AS stage
        |FROM (SELECT DISTINCT user_id FROM e) u
        |LEFT JOIN t1 USING (user_id) LEFT JOIN t2 USING (user_id)
        |LEFT JOIN t3 USING (user_id)""".stripMargin) {
      (s, d) => {
        val ev = Tables.events(s, d)
        val e = ev.select(col("user_id"), col("event_type"),
          Tables.tsMicros(ev.schema).as("tu"))
        val w = Window.partitionBy("user_id")
        e.withColumn("t1",
            min(when(col("event_type") === "view", col("tu"))).over(w))
          .withColumn("t2",
            min(when(col("event_type") === "click" && col("tu") > col("t1"),
              col("tu"))).over(w))
          .withColumn("t3",
            min(when(col("event_type") === "purchase" && col("tu") > col("t2"),
              col("tu"))).over(w))
          .groupBy("user_id")
          .agg(max("t1").as("view_ts"), max("t2").as("click_ts"),
            max("t3").as("purchase_ts"))
          .withColumn("stage",
            when(col("purchase_ts").isNotNull, 3)
              .when(col("click_ts").isNotNull, 2)
              .when(col("view_ts").isNotNull, 1).otherwise(0))
      }
    }
  )
}
