package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{Materialize, Query, Tables}
import graft.operators.Windows

/** The goals/targets cascade (SURVEY.md §3.2, 00.store_se_goals.R) — the
  * reference's most intricate query — mapped onto the events table:
  * visit×person skeleton (R9), latest-observation dedup (A10), forward
  * fill down visits (W7), as-of departure eligibility (J8), and the
  * 100%-refusal household carry-forward to the next visit (A13 + W10).
  *
  * Scale notes: the skeleton crossJoin broadcasts the tiny visit dim;
  * per-person state flows through one shuffle on user_id shared by the
  * dedup window, the fill window, and the join — Catalyst reuses the
  * partitioning. No driver-side loops.
  */
object Goals {

  /** g03's deterministic fixture + the reference's enrollment/removal
    * state machine (00.store_se_goals.R:374-392): md5-derived statuses
    * over events, enrollment classified from starting vs current status,
    * removal from migration/death/refusal/eos/never-enrolled-by-V3.
    * Exposed so GoalsSpec can assert every branch actually occurs in
    * the fixture the oracle checks.
    */
  private[graft] def efficacyCurated(s: org.apache.spark.sql.SparkSession,
                                     d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rnW = Window.partitionBy("extid").orderBy(col("ts"), col("event_id"))
    val base = Tables.events(s, d).filter(col("user_id") < 400)
      .select(col("user_id").as("extid"), col("ts"), col("event_id"))
      .withColumn("vn", row_number().over(rnW))
    def hv(salt: String) =
      substring(md5(concat_ws(":", col("extid"), col("vn"), lit(salt))), 1, 2)
    def hp(salt: String) =
      substring(md5(concat_ws(":", col("extid"), lit(salt))), 1, 2)
    val fix = base
      .filter(col("vn") <= 4 && hv("pres") < "c0")
      .select(col("extid"), col("vn"),
        floor(col("extid") / 4.0).cast("bigint").as("hhid"),
        when(hp("s") < "60", "out").otherwise("in").as("starting"),
        when(hv("st") < "28", "out").when(hv("st") < "3c", "refusal")
          .when(hv("st") < "50", "eos").otherwise("in").as("status"),
        when(hv("m") < "14", 1).otherwise(0).as("mig"),
        when(hv("u") < "0a", 1).otherwise(0).as("unm"),
        when(hv("d") < "05", 1).otherwise(0).as("und"))
      .withColumn("cluster", col("hhid") % 20)
      .withColumn("village", concat(lit("v"), (col("cluster") % 7).cast("string")))
      .withColumn("assignment",
        when(col("cluster") % 2 === 0, "arm_a").otherwise("arm_b"))
    // enrollment state machine + removal flags (the removal applies
    // from the NEXT visit, per the reference's next_eff shift)
    fix
      .withColumn("enrollment",
        when(col("starting") === "out" && col("status") =!= "out", "enrollment")
          .when(col("starting") === "out" && col("status") === "out", "not yet enrolled")
          .otherwise("follow up"))
      .withColumn("removal",
        col("mig") === 1 || col("unm") === 1 || col("und") === 1 ||
          col("status") === "refusal" || col("status") === "eos" ||
          (col("enrollment") === "not yet enrolled" && col("vn") >= 3))
  }

  /** g04's composed randomization lifecycle — exposed so GoalsSpec can
    * assert the SURVEY §5.1 invariant goldens on the same DataFrame the
    * oracle hash-checks.
    */
  private[graft] def randomizationJob(s: org.apache.spark.sql.SparkSession,
                                      d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Geo
    import graft.operators.Windows
    val assign = Geo.clusterAssigner(s, GeoQueries.diamonds, bufferDeg = 0.0)
    val edge = Geo.edgeDistanceUdf(s, GeoQueries.diamonds)
    // stage 1: points → in-cluster households/children (J9)
    val pts = GeoQueries.custPoints(s, d, col("c_custkey").as("extid"))
      .withColumn("cluster", assign(col("x"), col("y")))
      .filter(col("cluster").isNotNull)
      .withColumn("hhid", floor(col("extid") / 4).cast("bigint"))
    // stage 2: N/S stratified arm assignment — seeded permutation per
    // stratum, ceil-half split (the ≤25-row cluster dim stays broadcast)
    val cl = pts.select("cluster").distinct()
      .withColumn("stratum",
        when(floor(col("cluster") / 5) >= 3, "north").otherwise("south"))
    val arms = Windows
      .seededShuffleRank(cl, Seq("stratum"), "cluster", seed = 123L,
        rankCol = "arm_rank", crossEngine = true)
      .withColumn("n_str", count(lit(1)).over(Window.partitionBy("stratum")))
      .withColumn("assignment",
        when(col("arm_rank") * 2 <= col("n_str") + 1, "arm_a").otherwise("arm_b"))
      .select("cluster", "stratum", "assignment")
    // stage 3: per-cluster randomized household table (W2, seed 17);
    // household cluster = its lowest in-cluster member's (one argmin agg)
    val hhc = pts.groupBy("hhid")
      .agg(min_by(col("cluster"), col("extid")).as("hh_cluster"))
    val hhRand = Windows.seededShuffleRank(hhc, Seq("hh_cluster"), "hhid",
      seed = 17L, rankCol = "hh_rand", crossEngine = true)
    // stage 4: efficacy cohort — age window, deepest-first priority, cap
    val age = (col("extid") * 13 % 7305) / lit(365.25)
    val wP = Window.partitionBy("cluster").orderBy(col("edge_dist").desc, col("extid"))
    val sel = pts
      .withColumn("age", age)
      .filter(col("age") >= 5.0 && col("age") < 15.0)
      .withColumn("edge_dist", round(edge(col("cluster"), col("x"), col("y")), 9))
      .withColumn("priority_number", row_number().over(wP))
      .filter(col("priority_number") <= 35)
    sel.join(broadcast(arms), "cluster")
      .join(hhRand.select("hhid", "hh_rand"), "hhid")
      .select(col("cluster"), col("stratum"), col("assignment"), col("extid"),
        col("hhid"), col("hh_rand"), col("priority_number"), col("edge_dist"),
        col("age"))
  }

  /** g10's customer–supplier graph (shared by g22): both directions of
    * every distinct customer/supplier+1e6 pair as `edges(src, dst)`,
    * keyed by src, and the out-degrees `deg(src, outdeg)` (oracle twin
    * `OracleSnippets.RankGraphCtes`). */
  private[queries] def rankGraph(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val base = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      .join(graft.core.Par.fanOut( // §2.5: parallel probe of the fact scan
          Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
          col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"),
        (col("l_suppkey") + 1000000L).as("s2"))
      .distinct()
    val edges = Materialize.pin(base.select(col("c").as("src"), col("s2").as("dst"))
      .unionAll(base.select(col("s2").as("src"), col("c").as("dst")))
      .repartition(col("src")))
    (edges, edges.groupBy("src").agg(count(lit(1)).as("outdeg")))
  }

  val queries: Seq[Query] = Seq(

    // ---- G1: visit targets = skeleton + latest obs + fill + as-of ----------
    Query("g01_visit_targets",
      """WITH weeks(visit, vn, wstart) AS (
        |  VALUES ('V1', 1, TIMESTAMP '2024-01-01'), ('V2', 2, TIMESTAMP '2024-01-08'),
        |         ('V3', 3, TIMESTAMP '2024-01-15'), ('V4', 4, TIMESTAMP '2024-01-22')),
        |obs AS (
        |  SELECT user_id, vn, event_type AS status FROM (
        |    SELECT user_id, 1 + (CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS vn,
        |           event_type, ts, event_id,
        |           row_number() OVER (
        |             PARTITION BY user_id, 1 + (CAST(ts AS DATE) - DATE '2024-01-01') // 7
        |             ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) WHERE rn = 1 AND vn <= 4),
        |dep AS (SELECT user_id, min(ts) AS dep_ts FROM events
        |        WHERE event_type = 'logout' GROUP BY user_id)
        |SELECT p.user_id, w.visit,
        |       last_value(o.status IGNORE NULLS) OVER (
        |         PARTITION BY p.user_id ORDER BY w.vn
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried_status,
        |       (dep.dep_ts IS NULL OR w.wstart <= dep.dep_ts) AS eligible
        |FROM (SELECT DISTINCT user_id FROM events) p
        |CROSS JOIN weeks w
        |LEFT JOIN obs o ON o.user_id = p.user_id AND o.vn = w.vn
        |LEFT JOIN dep ON dep.user_id = p.user_id""".stripMargin) {
      (s, d) => {
        val ev = Tables.events(s, d)
        val weeks = s.sql(
          """SELECT * FROM VALUES ('V1', 1, TIMESTAMP'2024-01-01'),
            |  ('V2', 2, TIMESTAMP'2024-01-08'), ('V3', 3, TIMESTAMP'2024-01-15'),
            |  ('V4', 4, TIMESTAMP'2024-01-22') t(visit, vn, wstart)""".stripMargin)
        val vn = lit(1) + floor(datediff(to_date(col("ts")), lit("2024-01-01").cast("date")) / 7)
        val obs = Windows.latestPerGroup(
            ev.withColumn("vn", vn).filter(col("vn") <= 4),
            Seq("user_id", "vn"), Seq(col("ts"), col("event_id")))
          .select(col("user_id").as("o_user"), col("vn").as("o_vn"),
            col("event_type").as("status"))
        val dep = ev.filter(col("event_type") === "logout")
          .groupBy(col("user_id").as("d_user")).agg(min(col("ts")).as("dep_ts"))
        val skeleton = ev.select("user_id").distinct().crossJoin(broadcast(weeks))
        val joined = skeleton
          .join(obs, col("user_id") === col("o_user") && col("vn") === col("o_vn"), "left")
          .join(dep, col("user_id") === col("d_user"), "left")
        Windows.forwardFill(
            joined.withColumn("carried_status", col("status")),
            Seq("user_id"), Seq(col("vn")), Seq("carried_status"))
          .select(col("user_id"), col("visit"), col("carried_status"),
            (col("dep_ts").isNull || col("wstart") <= col("dep_ts")).as("eligible"))
      }
    },

    // ---- G2: 100%-refusal household carry-forward ---------------------------
    // Households (user_id % 25) where EVERY member active in week v had an
    // 'error' event are excluded from visit v+1 (capped at V4).
    Query("g02_full_refusal_carry",
      """WITH m AS (
        |  SELECT user_id % 25 AS hh, 1 + (CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS vn,
        |         user_id,
        |         max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS refused
        |  FROM events GROUP BY 1, 2, 3),
        |full_hh AS (
        |  SELECT hh, vn FROM m WHERE vn <= 3
        |  GROUP BY hh, vn HAVING sum(refused) = count(*))
        |SELECT hh, 'V' || CAST(vn + 1 AS VARCHAR) AS excluded_visit FROM full_hh""".stripMargin) {
      (s, d) => {
        val ev = Tables.events(s, d)
        val vn = lit(1) + floor(datediff(to_date(col("ts")), lit("2024-01-01").cast("date")) / 7)
        val m = ev.withColumn("hh", col("user_id") % 25).withColumn("vn", vn)
          .groupBy("hh", "vn", "user_id")
          .agg(max(when(col("event_type") === "error", 1).otherwise(0)).as("refused"))
        m.filter(col("vn") <= 3)
          .groupBy("hh", "vn")
          .agg(sum(col("refused")).as("nr"), count(lit(1)).as("n"))
          .filter(col("nr") === col("n"))
          .select(col("hh"), concat(lit("V"), (col("vn") + 1).cast("string")).as("excluded_visit"))
      }
    },

    // ---- G4: end-to-end randomization job -----------------------------------
    // The reference's randomization lifecycle (SURVEY §3.3,
    // randomize.R) composed into ONE query over the customer points:
    //   1. point-in-polygon cluster assignment (J9 machinery,
    //      randomize.R:370-382) — in-cluster filter;
    //   2. N/S stratified arm assignment (randomize.R:63-89,
    //      set.seed(123)): within each stratum rank clusters by the
    //      seeded md5 permutation and split arms by the ceil-half rule
    //      — |#arm_a − #arm_b| ≤ 1 per stratum by construction;
    //   3. per-cluster randomized household tables
    //      (randomize.R:559-750, set.seed(17)): household = its
    //      lowest in-cluster member; randomization_number = W2 seeded
    //      permutation rank within the household's cluster;
    //   4. efficacy cohort (randomize.R:1064-1139): age ≥5 and <15 at
    //      enrollment, priority by distance-to-cluster-edge DEEPEST
    //      first (W4), keep priority ≤ 35 per cluster (W3).
    // Output: one row per selected child with its cluster's arm and
    // its household's randomization number. The oracle replays every
    // stage (ray-cast containment, edge distance, md5 permutations,
    // ceil-half arm split, age arithmetic) in SQL; GoalsSpec pins the
    // SURVEY §5.1 invariant goldens (arm balance, ≤35/cluster, age
    // window, priority monotone in depth, per-cluster contiguous
    // household permutation).
    //
    // Scale notes: assignment and edge distance are narrow projections
    // over a broadcast 25-polygon fixture; the arm table is a ≤25-row
    // broadcast; households and the cohort shuffle ONCE each on the
    // cluster key for their window ranks (35-row cap bounds nothing
    // upstream — the windows rank, they don't materialize pairs).
    Query("g04_randomization",
      s"""WITH ${OracleSnippets.diamondPoints("pts0", "extid")},
        |${OracleSnippets.diamondInside("pts0", "extid", "cluster")},
        |pts AS (
        |  SELECT p.extid, p.x, p.y, i.cluster, p.extid // 4 AS hhid
        |  FROM pts0 p JOIN inside i USING (extid)),
        |cl AS (
        |  SELECT DISTINCT cluster,
        |         CASE WHEN cluster // 5 >= 3 THEN 'north' ELSE 'south' END AS stratum
        |  FROM pts),
        |armr AS (
        |  SELECT cluster, stratum,
        |         row_number() OVER (PARTITION BY stratum
        |           ORDER BY md5(CAST(cluster AS VARCHAR) || '123'), cluster) AS arm_rank,
        |         count(*) OVER (PARTITION BY stratum) AS n_str
        |  FROM cl),
        |arms AS (
        |  SELECT cluster, stratum,
        |         CASE WHEN arm_rank * 2 <= n_str + 1 THEN 'arm_a' ELSE 'arm_b' END AS assignment
        |  FROM armr),
        |hhrep AS (SELECT hhid, min(extid) AS rep FROM pts GROUP BY 1),
        |hhc AS (SELECT h.hhid, p.cluster AS hh_cluster
        |        FROM hhrep h JOIN pts p ON p.extid = h.rep),
        |hhrand AS (
        |  SELECT hhid,
        |         CAST(row_number() OVER (PARTITION BY hh_cluster
        |           ORDER BY md5(CAST(hhid AS VARCHAR) || '17'), hhid) AS INT) AS hh_rand
        |  FROM hhc),
        |${OracleSnippets.diamondEdgeDist("pts", "extid", "\n    WHERE d.id = p.cluster")},
        |elig AS (
        |  SELECT p.extid, p.hhid, p.cluster,
        |         (p.extid * 13 % 7305) / 365.25 AS age,
        |         round(dd.ed, 9) AS edge_dist
        |  FROM pts p JOIN dist dd ON dd.extid = p.extid AND dd.id = p.cluster
        |  WHERE (p.extid * 13 % 7305) / 365.25 >= 5.0
        |    AND (p.extid * 13 % 7305) / 365.25 < 15.0),
        |sel AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY cluster
        |             ORDER BY edge_dist DESC, extid) AS INT) AS priority_number
        |  FROM elig)
        |SELECT s.cluster, a.stratum, a.assignment, s.extid, s.hhid, h.hh_rand,
        |       s.priority_number, s.edge_dist, s.age
        |FROM sel s JOIN arms a USING (cluster) JOIN hhrand h USING (hhid)
        |WHERE s.priority_number <= 35""".stripMargin) {
      (s, d) => randomizationJob(s, d)
    },

    // ---- G3: deep efficacy cascade ------------------------------------------
    // The reference's efficacy-target state machine
    // (00.store_se_goals.R:332-436) end to end over a deterministic
    // md5-derived fixture: enrollment classification (out→in =
    // enrollment, out→out = not yet enrolled, else follow up), removal
    // flags (migration/death/refusal/eos/never-enrolled-by-V3), the
    // removal shifted to the NEXT visit, a visit×person skeleton with
    // forward-filled attributes, dplyr's NA-dropping filter on
    // coalesce(removal, next_removal), and distinct household/person
    // targets per (visit, assignment, cluster, village).
    Query("g03_efficacy_cascade",
      """WITH base AS (
        |  SELECT user_id AS extid,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vn
        |  FROM events WHERE user_id < 400
        |), fix AS (
        |  SELECT extid, vn,
        |    CAST(floor(extid / 4.0) AS BIGINT) AS hhid,
        |    CAST(floor(extid / 4.0) AS BIGINT) % 20 AS cluster,
        |    'v' || CAST(CAST(floor(extid / 4.0) AS BIGINT) % 20 % 7 AS VARCHAR) AS village,
        |    CASE WHEN CAST(floor(extid / 4.0) AS BIGINT) % 20 % 2 = 0 THEN 'arm_a' ELSE 'arm_b' END AS assignment,
        |    CASE WHEN substring(md5(CAST(extid AS VARCHAR) || ':s'), 1, 2) < '60' THEN 'out' ELSE 'in' END AS starting,
        |    CASE WHEN substring(md5(CAST(extid AS VARCHAR) || ':' || CAST(vn AS VARCHAR) || ':st'), 1, 2) < '28' THEN 'out'
        |         WHEN substring(md5(CAST(extid AS VARCHAR) || ':' || CAST(vn AS VARCHAR) || ':st'), 1, 2) < '3c' THEN 'refusal'
        |         WHEN substring(md5(CAST(extid AS VARCHAR) || ':' || CAST(vn AS VARCHAR) || ':st'), 1, 2) < '50' THEN 'eos'
        |         ELSE 'in' END AS status,
        |    CASE WHEN substring(md5(CAST(extid AS VARCHAR) || ':' || CAST(vn AS VARCHAR) || ':m'), 1, 2) < '14' THEN 1 ELSE 0 END AS mig,
        |    CASE WHEN substring(md5(CAST(extid AS VARCHAR) || ':' || CAST(vn AS VARCHAR) || ':u'), 1, 2) < '0a' THEN 1 ELSE 0 END AS unm,
        |    CASE WHEN substring(md5(CAST(extid AS VARCHAR) || ':' || CAST(vn AS VARCHAR) || ':d'), 1, 2) < '05' THEN 1 ELSE 0 END AS und
        |  FROM base
        |  WHERE vn <= 4
        |    AND substring(md5(CAST(extid AS VARCHAR) || ':' || CAST(vn AS VARCHAR) || ':pres'), 1, 2) < 'c0'
        |), curated AS (
        |  SELECT *,
        |    (mig = 1 OR unm = 1 OR und = 1 OR status = 'refusal' OR status = 'eos'
        |      OR (starting = 'out' AND status = 'out' AND vn >= 3)) AS removal
        |  FROM fix
        |), skel AS (
        |  SELECT p.extid, v.vn
        |  FROM (SELECT DISTINCT extid FROM curated) p
        |  CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS vn) v
        |), nexte AS (
        |  SELECT extid, vn + 1 AS vn, removal AS next_removal
        |  FROM curated WHERE vn + 1 <= 4
        |), joined AS (
        |  SELECT sk.extid, sk.vn, c.removal, n.next_removal,
        |    last_value(c.hhid IGNORE NULLS) OVER w AS hhid_f,
        |    last_value(c.cluster IGNORE NULLS) OVER w AS cluster_f,
        |    last_value(c.village IGNORE NULLS) OVER w AS village_f,
        |    last_value(c.assignment IGNORE NULLS) OVER w AS assignment_f
        |  FROM skel sk
        |  LEFT JOIN curated c ON c.extid = sk.extid AND c.vn = sk.vn
        |  LEFT JOIN nexte n ON n.extid = sk.extid AND n.vn = sk.vn
        |  WINDOW w AS (PARTITION BY sk.extid ORDER BY sk.vn
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT 'V' || CAST(vn + 1 AS VARCHAR) AS visit, assignment_f AS assignment,
        |       cluster_f AS cluster, village_f AS village,
        |       count(DISTINCT hhid_f) AS hh_target, count(DISTINCT extid) AS ind_target
        |FROM joined
        |WHERE NOT coalesce(removal, next_removal)
        |GROUP BY 1, 2, 3, 4""".stripMargin) {
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val curated = efficacyCurated(s, d)
        val visits = s.range(1, 5).select(col("id").cast("int").as("vn"))
        val skel = curated.select("extid").distinct().crossJoin(broadcast(visits))
        val nextEff = curated
          .select(col("extid").as("n_extid"), (col("vn") + 1).as("n_vn"),
            col("removal").as("next_removal"))
          .filter(col("n_vn") <= 4)
        val fillW = Window.partitionBy("extid").orderBy("vn")
          .rowsBetween(Window.unboundedPreceding, 0)
        skel
          .join(curated.select("extid", "vn", "hhid", "cluster", "village",
            "assignment", "removal"), Seq("extid", "vn"), "left")
          .join(nextEff,
            col("extid") === col("n_extid") && col("vn") === col("n_vn"), "left")
          .withColumn("hhid_f", last(col("hhid"), ignoreNulls = true).over(fillW))
          .withColumn("cluster_f", last(col("cluster"), ignoreNulls = true).over(fillW))
          .withColumn("village_f", last(col("village"), ignoreNulls = true).over(fillW))
          .withColumn("assignment_f", last(col("assignment"), ignoreNulls = true).over(fillW))
          .filter(!coalesce(col("removal"), col("next_removal")))
          .groupBy(concat(lit("V"), (col("vn") + 1).cast("string")).as("visit"),
            col("assignment_f").as("assignment"), col("cluster_f").as("cluster"),
            col("village_f").as("village"))
          .agg(countDistinct(col("hhid_f")).as("hh_target"),
            countDistinct(col("extid")).as("ind_target"))
      }
    },

    // ---- g12: cohort retention matrix -------------------------------------
    // The signup-cohort retention table: users grouped by the week of
    // their FIRST event, counted distinctly in each later week they were
    // active, keyed by week offset. Two shuffles total: the per-user
    // first-event aggregate and the (cohort, offset) count — the
    // activity dedup rides the same user_id partitioning as the first
    // aggregate. Weeks are Monday-floored epoch-day integers in both
    // engines, so the offset arithmetic is exact.
    Query("g12_retention_cohorts",
      """WITH firstw AS (
        |  SELECT user_id,
        |         datediff('day', DATE '1970-01-01',
        |                  CAST(date_trunc('week', min(ts)) AS DATE)) AS cw
        |  FROM events GROUP BY 1),
        |activity AS (
        |  SELECT DISTINCT user_id,
        |         datediff('day', DATE '1970-01-01',
        |                  CAST(date_trunc('week', ts) AS DATE)) AS aw
        |  FROM events)
        |SELECT f.cw AS cohort_week, (a.aw - f.cw) // 7 AS week_offset,
        |       count(DISTINCT f.user_id) AS n_users
        |FROM firstw f JOIN activity a ON f.user_id = a.user_id
        |GROUP BY 1, 2""".stripMargin) {
      (s, d) => {
        val ev = Tables.events(s, d)
        val e = ev.select(col("user_id"), Tables.canonTs(ev.schema).as("cts"))
        val wk = unix_date(to_date(date_trunc("week", col("cts"))))
        val firstw = e.groupBy("user_id")
          .agg(min(col("cts")).as("first_ts"))
          .select(col("user_id"),
            unix_date(to_date(date_trunc("week", col("first_ts")))).as("cw"))
        val activity = e.select(col("user_id"), wk.as("aw")).distinct()
        firstw.join(activity, Seq("user_id"))
          .groupBy(col("cw").cast("bigint").as("cohort_week"),
            expr("(aw - cw) div 7").cast("bigint").as("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
      }
    },

    // ---- g10: fixed-iteration PageRank (iterative join-agg, exact ints) ---
    // Graph analytics as pure join+aggregate rounds — the Pregel shape
    // without GraphX: edges are materialized ONCE pre-partitioned by src
    // (localCheckpoint cuts the lineage so round k doesn't replay rounds
    // 1..k-1), and each iteration moves only the O(nodes) rank table —
    // contribution = rank/outdeg is computed per NODE before the edge
    // join, so the big edge side never carries a division or a wide row.
    // Arithmetic is integer fixed-point (rank in millionths, damping
    // 0.85 = 17/20 via truncating div) so both engines are bit-exact —
    // no float-sum ordering hazard across 3 unrolled iterations.
    // Graph: bipartite customer <-> supplier trade edges (supplier ids
    // offset by 1e6 to disambiguate); bidirectional, so no dangling mass.
    Query("g10_pagerank",
      s"""WITH ${OracleSnippets.RankGraphCtes},
        |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM deg),
        |${OracleSnippets.rankRounds(3, "150000")}
        |SELECT CAST(node AS BIGINT) AS node, CAST(rank AS BIGINT) AS rank
        |FROM i3""".stripMargin) {
      (s, d) => {
        val (edges, deg) = rankGraph(s, d)
        var ranks = deg.select(col("src").as("node"), lit(1000000L).as("rank"))
        for (_ <- 1 to 3) {
          val contrib = ranks.join(deg, col("node") === col("src"))
            .select(col("node").as("cn"), expr("rank div outdeg").as("contrib"))
          ranks = edges.join(contrib, col("src") === col("cn"))
            .groupBy(col("dst").as("node"))
            .agg(expr("150000 + (17 * sum(contrib)) div 20").as("rank"))
        }
        ranks
      }
    },

    // ---- g22: personalized PageRank (teleport to a hub set) ------------------
    // g10's damped flow with the teleport mass pinned to a SOURCE set
    // (nodes ≡ 0 mod 10) instead of spread uniformly — relevance
    // propagation from seed entities, the recommendation/"similar to
    // these" primitive. Same exact-integer fixed-point contract as g10
    // (rank in millionths, 0.85 as truncating 17/20), teleport
    // membership computed from the node id (no indicator join), 3
    // unrolled rounds. Seeds start at 1e6, everything else at 0: mass
    // flows OUT of the seed neighbourhood and decays with distance.
    Query("g22_ppr",
      s"""WITH ${OracleSnippets.RankGraphCtes},
        |r0 AS (SELECT src AS node,
        |              CAST(CASE WHEN src % 10 = 0 THEN 1000000 ELSE 0 END AS BIGINT)
        |                AS rank
        |       FROM deg),
        |${OracleSnippets.rankRounds(3,
              "(CASE WHEN node % 10 = 0 THEN 150000 ELSE 0 END)")}
        |SELECT CAST(node AS BIGINT) AS node, CAST(rank AS BIGINT) AS rank
        |FROM i3""".stripMargin) {
      (s, d) => {
        val (edges, deg) = rankGraph(s, d)
        var ranks = deg.select(col("src").as("node"),
          when(col("src") % 10 === 0, 1000000L).otherwise(0L).as("rank"))
        for (_ <- 1 to 3) {
          val contrib = ranks.join(deg, col("node") === col("src"))
            .select(col("node").as("cn"), expr("rank div outdeg").as("contrib"))
          ranks = edges.join(contrib, col("src") === col("cn"))
            .groupBy(col("dst").as("node"))
            .agg(expr("(17 * sum(contrib)) div 20").as("flow"))
            .select(col("node"),
              (when(col("node") % 10 === 0, 150000L).otherwise(0L)
                + col("flow")).as("rank"))
        }
        ranks.select(col("node").cast("long").as("node"),
          col("rank").cast("long").as("rank"))
      }
    },

    // ---- G15: curation funnel report ---------------------------------------
    // The ablation table every corpus release ships with: docs and
    // tokens surviving each cumulative filter stage (language -> length
    // -> near-dup-free), computed in ONE scan — per-doc stage flags in
    // a projection, then conditional sums stacked to (stage, n_docs,
    // n_tokens) rows. At 100 TB this is the difference between one pass
    // and one pass per stage. The dedup stage uses the corpus-global
    // keep-first rule over normalized-content hashes (the only stage
    // needing a shuffle; the window and the base share no key, so the
    // plan is hash-join back on doc_id).
    Query("g15_curation_funnel",
      """WITH f AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS toks,
        |         lang = 'en' AS f_lang,
        |         n_chars >= 150 AS f_len,
        |         row_number() OVER (PARTITION BY md5(lower(text))
        |                            ORDER BY doc_id) = 1 AS f_dedup
        |  FROM documents)
        |SELECT stage, CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(n_tokens AS BIGINT) AS n_tokens FROM (
        |  SELECT 0 AS ord, 'all' AS stage, count(*) AS n_docs,
        |         sum(toks) AS n_tokens FROM f
        |  UNION ALL
        |  SELECT 1, 'lang', count(CASE WHEN f_lang THEN 1 END),
        |         sum(CASE WHEN f_lang THEN toks ELSE 0 END) FROM f
        |  UNION ALL
        |  SELECT 2, 'lang+len', count(CASE WHEN f_lang AND f_len THEN 1 END),
        |         sum(CASE WHEN f_lang AND f_len THEN toks ELSE 0 END) FROM f
        |  UNION ALL
        |  SELECT 3, 'lang+len+dedup',
        |         count(CASE WHEN f_lang AND f_len AND f_dedup THEN 1 END),
        |         sum(CASE WHEN f_lang AND f_len AND f_dedup THEN toks ELSE 0 END)
        |  FROM f) t""".stripMargin) {
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(md5(lower(col("text")))).orderBy("doc_id")
        val f = Tables.documents(s, d).select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("toks"),
          (col("lang") === "en").as("f_lang"),
          (col("n_chars") >= 150).as("f_len"),
          (row_number().over(w) === 1).as("f_dedup"))
        def passing(name: String, cond: org.apache.spark.sql.Column) = Seq(
          count(when(cond, 1)).cast("long"),
          sum(when(cond, col("toks")).otherwise(0L)).cast("long"))
        val agg = f.agg(
          count(lit(1)).cast("long").as("d0"),
          sum(col("toks")).cast("long").as("t0"),
          passing("lang", col("f_lang"))(0).as("d1"),
          passing("lang", col("f_lang"))(1).as("t1"),
          passing("ll", col("f_lang") && col("f_len"))(0).as("d2"),
          passing("ll", col("f_lang") && col("f_len"))(1).as("t2"),
          passing("lld", col("f_lang") && col("f_len") && col("f_dedup"))(0).as("d3"),
          passing("lld", col("f_lang") && col("f_len") && col("f_dedup"))(1).as("t3"))
        agg.select(explode(array(
            struct(lit("all").as("stage"), col("d0").as("n_docs"), col("t0").as("n_tokens")),
            struct(lit("lang").as("stage"), col("d1").as("n_docs"), col("t1").as("n_tokens")),
            struct(lit("lang+len").as("stage"), col("d2").as("n_docs"), col("t2").as("n_tokens")),
            struct(lit("lang+len+dedup").as("stage"), col("d3").as("n_docs"), col("t3").as("n_tokens"))))
            .as("r"))
          .select(col("r.stage").as("stage"), col("r.n_docs").as("n_docs"),
            col("r.n_tokens").as("n_tokens"))
      }
    },

    // ---- G27: referential-integrity audit -----------------------------------
    // The whole star schema's foreign-key health in one table: per FK
    // edge, child rows, distinct child keys, orphan keys, and orphan
    // rows (keys with no parent). Each edge pre-aggregates the child to
    // DISTINCT KEYS with their row counts FIRST — the anti-join then
    // moves O(|keys|) rows, not O(|child|), which is what keeps the
    // lineitem edges cheap at fact-table scale (parents broadcast or
    // shuffle tiny). Seven edges, each one agg + one anti join; a
    // healthy warehouse reports zeros, and the row is the regression
    // trip-wire for ingest bugs that break joins silently.
    Query("g27_ref_integrity",
      """WITH
        |e1 AS (SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
        |e2 AS (SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
        |e3 AS (SELECT l_suppkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
        |e4 AS (SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1),
        |e5 AS (SELECT c_nationkey AS k, count(*) AS c FROM customer GROUP BY 1),
        |e6 AS (SELECT s_nationkey AS k, count(*) AS c FROM supplier GROUP BY 1),
        |e7 AS (SELECT n_regionkey AS k, count(*) AS c FROM nation GROUP BY 1)
        |SELECT 'lineitem.l_orderkey->orders' AS edge,
        |       CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_keys,
        |       CAST(count(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT) AS n_orphan_keys,
        |       CAST(coalesce(sum(c) FILTER (WHERE o_orderkey IS NULL), 0) AS BIGINT) AS n_orphan_rows
        |FROM e1 LEFT JOIN orders ON k = o_orderkey
        |UNION ALL
        |SELECT 'lineitem.l_partkey->part', CAST(sum(c) AS BIGINT), count(*),
        |       CAST(count(*) FILTER (WHERE p_partkey IS NULL) AS BIGINT),
        |       CAST(coalesce(sum(c) FILTER (WHERE p_partkey IS NULL), 0) AS BIGINT)
        |FROM e2 LEFT JOIN part ON k = p_partkey
        |UNION ALL
        |SELECT 'lineitem.l_suppkey->supplier', CAST(sum(c) AS BIGINT), count(*),
        |       CAST(count(*) FILTER (WHERE s_suppkey IS NULL) AS BIGINT),
        |       CAST(coalesce(sum(c) FILTER (WHERE s_suppkey IS NULL), 0) AS BIGINT)
        |FROM e3 LEFT JOIN supplier ON k = s_suppkey
        |UNION ALL
        |SELECT 'orders.o_custkey->customer', CAST(sum(c) AS BIGINT), count(*),
        |       CAST(count(*) FILTER (WHERE c_custkey IS NULL) AS BIGINT),
        |       CAST(coalesce(sum(c) FILTER (WHERE c_custkey IS NULL), 0) AS BIGINT)
        |FROM e4 LEFT JOIN customer ON k = c_custkey
        |UNION ALL
        |SELECT 'customer.c_nationkey->nation', CAST(sum(c) AS BIGINT), count(*),
        |       CAST(count(*) FILTER (WHERE n_nationkey IS NULL) AS BIGINT),
        |       CAST(coalesce(sum(c) FILTER (WHERE n_nationkey IS NULL), 0) AS BIGINT)
        |FROM e5 LEFT JOIN nation ON k = n_nationkey
        |UNION ALL
        |SELECT 'supplier.s_nationkey->nation', CAST(sum(c) AS BIGINT), count(*),
        |       CAST(count(*) FILTER (WHERE n_nationkey IS NULL) AS BIGINT),
        |       CAST(coalesce(sum(c) FILTER (WHERE n_nationkey IS NULL), 0) AS BIGINT)
        |FROM e6 LEFT JOIN nation ON k = n_nationkey
        |UNION ALL
        |SELECT 'nation.n_regionkey->region', CAST(sum(c) AS BIGINT), count(*),
        |       CAST(count(*) FILTER (WHERE r_regionkey IS NULL) AS BIGINT),
        |       CAST(coalesce(sum(c) FILTER (WHERE r_regionkey IS NULL), 0) AS BIGINT)
        |FROM e7 LEFT JOIN region ON k = r_regionkey""".stripMargin) {
      (s, d) => {
        def edge(name: String, child: org.apache.spark.sql.DataFrame,
                 childKey: String, parent: org.apache.spark.sql.DataFrame,
                 parentKey: String) = {
          val keys = child.groupBy(col(childKey).as("k"))
            .agg(count(lit(1)).as("c"))
          keys.join(parent.select(col(parentKey).as("pk")),
              col("k") === col("pk"), "left")
            .agg(sum("c").cast("long").as("n_rows"),
              count(lit(1)).as("n_keys"),
              count(when(col("pk").isNull, 1)).cast("long").as("n_orphan_keys"),
              coalesce(sum(when(col("pk").isNull, col("c"))), lit(0L))
                .cast("long").as("n_orphan_rows"))
            .select(lit(name).as("edge"), col("n_rows"), col("n_keys"),
              col("n_orphan_keys"), col("n_orphan_rows"))
        }
        val li = Tables.lineitem(s, d)
        edge("lineitem.l_orderkey->orders", li, "l_orderkey",
            Tables.orders(s, d), "o_orderkey")
          .unionAll(edge("lineitem.l_partkey->part", li, "l_partkey",
            Tables.part(s, d), "p_partkey"))
          .unionAll(edge("lineitem.l_suppkey->supplier", li, "l_suppkey",
            Tables.supplier(s, d), "s_suppkey"))
          .unionAll(edge("orders.o_custkey->customer", Tables.orders(s, d),
            "o_custkey", Tables.customer(s, d), "c_custkey"))
          .unionAll(edge("customer.c_nationkey->nation", Tables.customer(s, d),
            "c_nationkey", Tables.nation(s, d), "n_nationkey"))
          .unionAll(edge("supplier.s_nationkey->nation", Tables.supplier(s, d),
            "s_nationkey", Tables.nation(s, d), "n_nationkey"))
          .unionAll(edge("nation.n_regionkey->region", Tables.nation(s, d),
            "n_regionkey", Tables.region(s, d), "r_regionkey"))
      }
    }
  )
}
