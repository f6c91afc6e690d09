package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Materialize, Query, Tables}
import OracleSnippets.{AnovaSumCtes, DailyTypeMicros, SegCentsCte, dailyTypeSumCte, segMomentCte}

/** Trend / drift / ordered-run analytics — the monitoring layer that sits
  * on top of the reference's anomaly battery (SURVEY §2.4/§2.5): per-group
  * regression trends, distribution-drift scoring between time slices,
  * activity streaks (gaps-and-islands), time-bucket OHLC rollups, and a
  * degree-oriented triangle count over the co-purchase graph.
  *
  * Float policy (the t18/t34 decimal discipline): every aggregate that
  * feeds a ratio is an EXACT sum (BIGINT / DECIMAL), and doubles only
  * appear in a fixed-order scalar epilogue on already-aggregated values,
  * rounded to 6 dp — partition order can never move a bit.
  */
object Analytics {

  /** A daily sum in integer micro-units, the Spark twin of
    * `OracleSnippets.DailyTypeMicros`' `q`. */
  private[queries] def micros(xs: Column): Column =
    floor(xs.cast("double") * lit(1000000.0) + lit(0.5)).cast("long")

  /** Each order's value in integer cents `xc` by customer market `seg`,
    * with `cols` between the two (oracle twin
    * `OracleSnippets.SegCentsCte`). */
  private[queries] def segCents(s: SparkSession, d: String, cols: Column*): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select((col("c_mktsegment").as("seg") +: cols :+
        round(col("o_totalprice") * 100).cast("long").as("xc")): _*)

  /** Exact per-segment count `n`, Σv `s1` and Σv² `s2` of the integer
    * column `v` (oracle twin `OracleSnippets.segMomentCte`). */
  private[queries] def segMoments(df: DataFrame, v: String, n: String): DataFrame =
    df.groupBy("seg")
      .agg(count(lit(1)).as(n),
        sum(v).cast("decimal(38,0)").as("s1"),
        sum((col(v) * col(v)).cast("decimal(38,0)")).as("s2"))

  /** One-way ANOVA sums over [[segMoments]] (count `ng`): the seg-ordered
    * folds `a(ssb, ssw)` and the totals `t(k, n, gs1)` (oracle twin
    * `OracleSnippets.AnovaSumCtes`). */
  private[queries] def anovaSums(g: DataFrame): (DataFrame, DataFrame) = {
    val t = g.agg(count(lit(1)).as("k"), sum("ng").cast("long").as("n"),
      sum("s1").as("gs1"))
    val diff = col("s1").cast("double") / col("ng") -
      col("gs1").cast("double") / col("n")
    val terms = g.crossJoin(broadcast(t)).select(col("seg"),
      (col("ng").cast("double") * diff * diff).as("ssb_t"),
      (col("s2").cast("double")
        - col("s1").cast("double") * col("s1").cast("double") / col("ng"))
        .as("ssw_t"))
    // the 5 per-group terms fold in seg order (exact-order float fold:
    // an unordered SUM over doubles would be partition-order-dependent)
    def orderedFold(term: String) = aggregate(
      transform(sort_array(collect_list(struct(col("seg"), col(term)))),
        e => e.getField(term)),
      lit(0.0), (acc, v) => acc + v)
    (terms.agg(orderedFold("ssb_t").as("ssb"), orderedFold("ssw_t").as("ssw")), t)
  }

  /** a30's oracle, shared verbatim by st12 (the streaming counters'
    * PSI epilogue must hash-match the batch SQL). */
  private[queries] val PsiDriftOracleSql: String =
    """WITH b AS (
      |  SELECT event_type,
      |         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 2 AS slice,
      |         least(9, greatest(0, CAST(floor(value / 50.0) AS BIGINT))) AS bucket
      |  FROM events),
      |c AS (SELECT event_type, slice, bucket, count(*) AS n FROM b GROUP BY 1, 2, 3),
      |spine AS (
      |  SELECT DISTINCT event_type, r.range AS bucket FROM events, range(0, 10) r),
      |tot AS (SELECT event_type,
      |               sum(CASE WHEN slice = 0 THEN n ELSE 0 END) AS ta,
      |               sum(CASE WHEN slice = 1 THEN n ELSE 0 END) AS tb
      |        FROM c GROUP BY 1),
      |pq AS (
      |  SELECT s.event_type, s.bucket,
      |         (coalesce(a.n, 0) + 0.5) / (t.ta + 5.0) AS p,
      |         (coalesce(o.n, 0) + 0.5) / (t.tb + 5.0) AS q
      |  FROM spine s
      |  JOIN tot t ON s.event_type = t.event_type
      |  LEFT JOIN c a ON a.event_type = s.event_type AND a.bucket = s.bucket AND a.slice = 0
      |  LEFT JOIN c o ON o.event_type = s.event_type AND o.bucket = s.bucket AND o.slice = 1)
      |SELECT event_type,
      |       CAST(sum(CAST(round((p - q) * ln(p / q), 6) AS DECIMAL(18,6))) AS DOUBLE) AS psi
      |FROM pq GROUP BY event_type""".stripMargin

  /** PSI tail shared by a30 (batch) and st12 (streaming): from a
    * pre-bucketed (event_type, slice, bucket) frame — or its already-
    * counted (…, n) form via `preCounted` — to one PSI row per type.
    * All joins broadcast (every side is O(|types| x 10)).
    */
  private[queries] def psiOfSlices(b: org.apache.spark.sql.DataFrame,
      preCounted: Boolean = false): org.apache.spark.sql.DataFrame = {
    val c = if (preCounted) b
      else b.groupBy("event_type", "slice", "bucket").agg(count(lit(1)).as("n"))
    val tot = c.groupBy("event_type").agg(
      sum(when(col("slice") === 0, col("n")).otherwise(0L)).as("ta"),
      sum(when(col("slice") === 1, col("n")).otherwise(0L)).as("tb"))
    val spine = c.select("event_type").distinct()
      .select(col("event_type"), explode(sequence(lit(0L), lit(9L))).as("bucket"))
    val a = c.filter(col("slice") === 0).select(
      col("event_type").as("a_t"), col("bucket").as("a_b"), col("n").as("a_n"))
    val o = c.filter(col("slice") === 1).select(
      col("event_type").as("o_t"), col("bucket").as("o_b"), col("n").as("o_n"))
    val p = (coalesce(col("a_n"), lit(0L)) + 0.5) / (col("ta") + 5.0)
    val q = (coalesce(col("o_n"), lit(0L)) + 0.5) / (col("tb") + 5.0)
    broadcast(spine)
      .join(broadcast(tot), "event_type")
      .join(broadcast(a), col("event_type") === col("a_t") && col("bucket") === col("a_b"), "left")
      .join(broadcast(o), col("event_type") === col("o_t") && col("bucket") === col("o_b"), "left")
      .select(col("event_type"),
        round((p - q) * log(p / q), 6).cast("decimal(18,6)").as("term"))
      .groupBy("event_type")
      .agg(sum(col("term")).cast("double").as("psi"))
  }

  /** The sparsified supplier co-purchase graph the g rows share: supplier
    * pairs (x < y) that appear in one order, kept when the first hex
    * digit of md5("x_y" || salt) is "0" (~1/16, the sample each row's
    * oracle restates with its own salt). Lineitem is fanned out (§2.5)
    * because the pair build is a broadcast-join probe over the whole
    * fact scan exploding to ~3x its rows, heavy map work a
    * one-row-group input would run in one task.
    */
  private def coSupplierEdges(s: org.apache.spark.sql.SparkSession, d: String,
                              salt: String): org.apache.spark.sql.DataFrame = {
    val li = graft.core.Par.fanOut(
      Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
      col("l_orderkey"))
    li.toDF("ok", "x")
      .join(li.toDF("ok2", "y"), col("ok") === col("ok2") && col("x") < col("y"))
      .select("x", "y").distinct()
      .filter(substring(
        md5(concat(col("x").cast("string"), lit("_"), col("y").cast("string"), lit(salt))),
        1, 1) === "0")
  }

  /** Per event type and value, the counts `da`/`db` on even/odd epoch
    * days (w24, a34; oracle twin `OracleSnippets.SliceValueCountCtes`). */
  private[queries] def sliceValueCounts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(col("event_type"), col("value"),
        (datediff(to_date(col("ts")), lit("1970-01-01")) % 2).as("slice"))
      .groupBy("event_type", "value").agg(
        count(when(col("slice") === 0, 1)).as("da"),
        count(when(col("slice") === 1, 1)).as("db"))

  /** The running frame over [[sliceValueCounts]] per type in value order.
    * Spark's default asc = NULLS FIRST but DuckDB's ORDER BY defaults
    * NULLS LAST; NULLS LAST is pinned on BOTH sides so a null value can
    * never silently shift the cumulative counts (ADVICE r7). */
  private[queries] def valueRunning =
    Window.partitionBy("event_type").orderBy(col("value").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Node degrees `(node, dg)` of the undirected edge set `e(x, y)`. */
  private[queries] def edgeDegrees(e: DataFrame): DataFrame =
    e.select(col("x").as("node")).unionAll(e.select(col("y")))
      .groupBy("node").agg(count(lit(1)).as("dg"))

  /** Every edge of `e(x, y)` pointed from its lower (degree, id) end as
    * `(src, dst)` by the degrees `deg`, which bounds out-degree for the
    * wedge join (g13, g24; oracle twin `OracleSnippets.OrientedEdgeCtes`). */
  private[queries] def degreeOriented(e: DataFrame, deg: DataFrame): DataFrame = {
    val withDeg = e
      .join(deg.toDF("nx", "dx"), col("x") === col("nx"))
      .join(deg.toDF("ny", "dy"), col("y") === col("ny"))
    val xFirst = struct(col("dx"), col("x")) < struct(col("dy"), col("y"))
    Materialize.pin(withDeg.select(
      when(xFirst, col("x")).otherwise(col("y")).as("src"),
      when(xFirst, col("y")).otherwise(col("x")).as("dst")))
  }

  val queries: Seq[Query] = Seq(

    // ---- A52: ROC AUC via the Mann-Whitney rank identity -------------------
    // The classifier-evaluation metric every quality-filter pipeline
    // (t02/t29/t30) needs before trusting a score: AUC of "document
    // length predicts English" with EXACT tie handling. Shape is the
    // scale story: scores group FIRST (map-side combined hash agg), so
    // the ordered pass runs over DISTINCT scores only — U2 =
    // Σ pos_g·(2·neg_below + neg_g) is twice the tie-corrected
    // Mann-Whitney U, all in exact BIGINTs; the single double division
    // happens once at the end. At 100 TB the distinct-score table is
    // bounded by the score's codomain (quantize unbounded scores first
    // — the a23 histogram lesson), so the one unpartitioned window is
    // metadata-sized, never data-sized.
    Query("a52_auc",
      """WITH g AS (
        |  SELECT n_chars AS score, count(*) AS cnt,
        |         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos
        |  FROM documents GROUP BY 1),
        |c AS (
        |  SELECT pos, cnt - pos AS neg,
        |         coalesce(sum(cnt - pos) OVER (ORDER BY score
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |  FROM g),
        |t AS (SELECT sum(pos) AS p, sum(neg) AS n,
        |             sum(pos * (2 * below + neg)) AS u2 FROM c)
        |SELECT CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
        |       round(CAST(u2 AS DOUBLE) / CAST(2 * p * n AS BIGINT), 9) AS auc
        |FROM t""".stripMargin) { (s, d) =>
      val g = Tables.documents(s, d)
        .groupBy(col("n_chars").as("score"))
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("pos"))
      val w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
      val c = g.select(col("pos"), (col("cnt") - col("pos")).as("neg"),
        coalesce(sum(col("cnt") - col("pos")).over(w), lit(0L)).as("below"))
      c.agg(sum("pos").as("p"), sum("neg").as("n"),
          sum(col("pos") * (lit(2L) * col("below") + col("neg"))).as("u2"))
        .select(col("p").cast("long").as("n_pos"),
          col("n").cast("long").as("n_neg"),
          round(col("u2").cast("double")
            / (lit(2L) * col("p") * col("n")).cast("long"), 9).as("auc"))
    },

    // ---- G34: market-basket association rules (support/confidence/lift) ----
    // The co-occurrence statistic the graph battery (g10-g30) scores
    // structurally but never probabilistically: per brand pair, joint
    // support, directed confidence, and lift over the order baskets.
    // Pair generation is the bounded self-join (baskets hold ≤ 7 lines,
    // so the per-order fan-out is ≤ 21 — never quadratic in the table);
    // the brand projection first goes through one distinct (map-side
    // combined), and the three consumers share it via localCheckpoint.
    // Every statistic is an exact BIGINT; the three ratios are one
    // fixed-order double epilogue each. Dim joins broadcast (25 brands).
    Query("g34_basket_lift",
      """WITH b AS (
        |  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |n AS (SELECT count(DISTINCT ok) AS n_baskets FROM b),
        |s1 AS (SELECT brand, count(*) AS supp FROM b GROUP BY 1),
        |s2 AS (
        |  SELECT a.brand AS brand_a, c.brand AS brand_b, count(*) AS supp_ab
        |  FROM b a JOIN b c ON a.ok = c.ok AND a.brand < c.brand
        |  GROUP BY 1, 2)
        |SELECT s2.brand_a, s2.brand_b, CAST(s2.supp_ab AS BIGINT) AS supp_ab,
        |       round(CAST(s2.supp_ab AS DOUBLE) / n.n_baskets, 9) AS support,
        |       round(CAST(s2.supp_ab AS DOUBLE) / sa.supp, 9) AS confidence,
        |       round(CAST(s2.supp_ab AS DOUBLE) * n.n_baskets
        |             / (CAST(sa.supp AS DOUBLE) * sb.supp), 9) AS lift
        |FROM s2 JOIN s1 sa ON s2.brand_a = sa.brand
        |        JOIN s1 sb ON s2.brand_b = sb.brand
        |        CROSS JOIN n
        |WHERE s2.supp_ab >= 20""".stripMargin) { (s, d) =>
      // basket table feeds n, s1, and both s2 legs
      val b = Materialize.pin(Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
        .distinct())
      val n = b.agg(count_distinct(col("ok")).as("n_baskets"))
      val s1 = b.groupBy("brand").agg(count(lit(1)).as("supp"))
      val s2 = b.select(col("ok"), col("brand").as("brand_a"))
        .join(b.select(col("ok"), col("brand").as("brand_b")), Seq("ok"))
        .filter(col("brand_a") < col("brand_b"))
        .groupBy("brand_a", "brand_b").agg(count(lit(1)).as("supp_ab"))
        .filter(col("supp_ab") >= 20)
      s2.join(broadcast(s1.select(col("brand").as("brand_a"),
          col("supp").as("supp_a"))), Seq("brand_a"))
        .join(broadcast(s1.select(col("brand").as("brand_b"),
          col("supp").as("supp_b"))), Seq("brand_b"))
        .crossJoin(broadcast(n))
        .select(col("brand_a"), col("brand_b"),
          col("supp_ab").cast("long").as("supp_ab"),
          round(col("supp_ab").cast("double") / col("n_baskets"), 9)
            .as("support"),
          round(col("supp_ab").cast("double") / col("supp_a"), 9)
            .as("confidence"),
          round(col("supp_ab").cast("double") * col("n_baskets")
            / (col("supp_a").cast("double") * col("supp_b")), 9).as("lift"))
    },

    // ---- A54: Cramér's V (categorical association strength) ----------------
    // The effect size a35's chi-square test omits: how STRONG is the
    // priority↔status association, on a 0-1 scale comparable across
    // tables. Identity used: (o−e)²/e = (n·o − r·c)²/(n·r·c), so every
    // numerator is an exact integer (DECIMAL(38,0) here, HUGEINT in the
    // oracle — n·o can pass 2^63 at large SF); each cell term is ONE
    // double division rounded to 6dp and summed as DECIMAL, then
    // V = sqrt(χ²/(n·min(r−1,c−1))) is a fixed-order scalar epilogue.
    // Plan: one contingency hash agg; marginals derive from it
    // (cells-sized, broadcast back) — the table is scanned once.
    Query("a54_cramers_v",
      """WITH t AS (SELECT o_orderpriority AS a, o_orderstatus AS b,
        |                  count(*) AS o FROM orders GROUP BY 1, 2),
        |r AS (SELECT a, sum(o) AS ra FROM t GROUP BY 1),
        |c AS (SELECT b, sum(o) AS cb FROM t GROUP BY 1),
        |n AS (SELECT sum(o) AS n, count(DISTINCT a) AS ka,
        |             count(DISTINCT b) AS kb FROM t),
        |cell AS (
        |  -- observed cells carry BOTH summands; zero cells contribute
        |  -- exactly e = r*c/n, folded in analytically as n - sum(termB)
        |  -- (no r x c spine join needed)
        |  SELECT CAST(round(
        |           CAST((CAST(n.n AS HUGEINT) * t.o - CAST(r.ra AS HUGEINT) * c.cb)
        |                * (CAST(n.n AS HUGEINT) * t.o - CAST(r.ra AS HUGEINT) * c.cb)
        |                AS DOUBLE)
        |           / CAST(CAST(n.n AS HUGEINT) * r.ra * c.cb AS DOUBLE), 6)
        |         AS DECIMAL(18,6)) AS term_a,
        |         CAST(round(CAST(CAST(r.ra AS HUGEINT) * c.cb AS DOUBLE) / n.n, 6)
        |         AS DECIMAL(18,6)) AS term_b
        |  FROM t JOIN r USING (a) JOIN c USING (b) CROSS JOIN n),
        |s AS (SELECT sum(term_a) AS sa, sum(term_b) AS sb FROM cell)
        |SELECT CAST(n.n AS BIGINT) AS n,
        |       CAST(n.ka AS BIGINT) AS k_rows, CAST(n.kb AS BIGINT) AS k_cols,
        |       CAST(n.n - s.sb + s.sa AS DOUBLE) AS chi2,
        |       round(sqrt(CAST(n.n - s.sb + s.sa AS DOUBLE)
        |                  / (n.n * least(n.ka - 1, n.kb - 1))), 6) AS cramers_v
        |FROM s CROSS JOIN n""".stripMargin) {
      (s, d) =>
      // marginals + totals + cells share one scan; priority x status cells
      val t = Materialize.small(Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("a"), col("o_orderstatus").as("b"))
        .agg(count(lit(1)).as("o")))
      val r = t.groupBy("a").agg(sum("o").as("ra"))
      val c = t.groupBy("b").agg(sum("o").as("cb"))
      val n = t.agg(sum("o").as("n"), count_distinct(col("a")).as("ka"),
        count_distinct(col("b")).as("kb"))
      val dec = "decimal(38,0)"
      // observed cells carry both summands; zero cells fold in
      // analytically (chi2 = n - Σ rc/n + Σ (n·o − rc)²/(n·rc)) — no
      // r x c spine join, so sparse tables stay correct AND the plan
      // stays one scan + marginal broadcasts
      val num = col("n").cast(dec) * col("o") - col("ra").cast(dec) * col("cb")
      val den = (col("n").cast(dec) * col("ra") * col("cb")).cast("double")
      val termB = (col("ra").cast(dec) * col("cb")).cast("double") / col("n")
      val sums = t.join(broadcast(r), Seq("a")).join(broadcast(c), Seq("b"))
        .crossJoin(broadcast(n))
        .select(round((num * num).cast("double") / den, 6)
            .cast("decimal(18,6)").as("term_a"),
          round(termB, 6).cast("decimal(18,6)").as("term_b"))
        .agg(sum("term_a").as("sa"), sum("term_b").as("sb"))
      val chi2 = (col("n") - col("sb") + col("sa")).cast("double")
      // non-ANSI Spark nulls a decimal(38,0) overflow silently while the
      // HUGEINT oracle keeps exact values; |num| ≤ n² so num² fits 38
      // digits iff n < ~3.16e9 — fail loudly past the bound instead
      val nGuard = when(col("n").cast("long") < 3000000000L,
        col("n").cast("long"))
        .otherwise(raise_error(lit("a54: n exceeds decimal(38,0) exact bound")))
      sums.crossJoin(n)
        .select(nGuard.as("n"),
          col("ka").cast("long").as("k_rows"),
          col("kb").cast("long").as("k_cols"),
          chi2.as("chi2"),
          round(sqrt(chi2
            / (col("n") * least(col("ka") - 1, col("kb") - 1))), 6)
            .as("cramers_v"))
    },

    // ---- A56: Theil's U / uncertainty coefficient (directional a54) --------
    // Cramér's V is symmetric; Theil's U answers the DIRECTIONAL
    // question — how much does knowing the weekday reduce uncertainty
    // about the event type (and vice versa): U(a|b) =
    // (H(a) − H(a|b))/H(a). Same one-scan contingency shape as a54;
    // every entropy term is ln on exact integer ratios, rounded to 6dp
    // and summed as DECIMAL (the t18 discipline), so the fold order
    // can't move a bit. Output carries both directions — their
    // asymmetry is the point.
    Query("a56_theils_u",
      """WITH t AS (
        |  SELECT event_type AS a,
        |         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS b,
        |         count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT a, sum(o) AS ra FROM t GROUP BY 1),
        |c AS (SELECT b, sum(o) AS cb FROM t GROUP BY 1),
        |n AS (SELECT sum(o) AS n FROM t),
        |ha AS (SELECT sum(CAST(round(-(CAST(ra AS DOUBLE) / n.n)
        |                             * ln(CAST(ra AS DOUBLE) / n.n), 6)
        |                       AS DECIMAL(18,6))) AS h
        |       FROM r CROSS JOIN n),
        |hb AS (SELECT sum(CAST(round(-(CAST(cb AS DOUBLE) / n.n)
        |                             * ln(CAST(cb AS DOUBLE) / n.n), 6)
        |                       AS DECIMAL(18,6))) AS h
        |       FROM c CROSS JOIN n),
        |hab AS (SELECT sum(CAST(round(-(CAST(o AS DOUBLE) / n.n)
        |                              * ln(CAST(o AS DOUBLE) / cb), 6)
        |                        AS DECIMAL(18,6))) AS h
        |        FROM t JOIN c USING (b) CROSS JOIN n),
        |hba AS (SELECT sum(CAST(round(-(CAST(o AS DOUBLE) / n.n)
        |                              * ln(CAST(o AS DOUBLE) / ra), 6)
        |                        AS DECIMAL(18,6))) AS h
        |        FROM t JOIN r USING (a) CROSS JOIN n)
        |SELECT round(CAST(ha.h AS DOUBLE), 6) AS h_a,
        |       round(CAST(hb.h AS DOUBLE), 6) AS h_b,
        |       round((CAST(ha.h AS DOUBLE) - CAST(hab.h AS DOUBLE))
        |             / CAST(ha.h AS DOUBLE), 6) AS u_a_given_b,
        |       round((CAST(hb.h AS DOUBLE) - CAST(hba.h AS DOUBLE))
        |             / CAST(hb.h AS DOUBLE), 6) AS u_b_given_a
        |FROM ha CROSS JOIN hb CROSS JOIN hab CROSS JOIN hba""".stripMargin) {
      (s, d) =>
      val ev = Tables.events(s, d)
      // marginals + two conditional entropies share it; type x weekday
      val t = Materialize.small(ev
        .groupBy(col("event_type").as("a"),
          (datediff(to_date(col("ts")), lit("1970-01-01")) % 7).as("b"))
        .agg(count(lit(1)).as("o")))
      val r = t.groupBy("a").agg(sum("o").as("ra"))
      val c = t.groupBy("b").agg(sum("o").as("cb"))
      val n = t.agg(sum("o").as("n"))
      def ent(df: org.apache.spark.sql.DataFrame, p: org.apache.spark.sql.Column,
              q: org.apache.spark.sql.Column) =
        df.select(round((lit(0.0) - p) * log(q), 6)
            .cast("decimal(18,6)").as("e"))
          .agg(sum("e").as("h"))
      val ha = ent(r.crossJoin(broadcast(n)),
        col("ra").cast("double") / col("n"), col("ra").cast("double") / col("n"))
      val hb = ent(c.crossJoin(broadcast(n)),
        col("cb").cast("double") / col("n"), col("cb").cast("double") / col("n"))
      val hab = ent(t.join(broadcast(c), Seq("b")).crossJoin(broadcast(n)),
        col("o").cast("double") / col("n"), col("o").cast("double") / col("cb"))
      val hba = ent(t.join(broadcast(r), Seq("a")).crossJoin(broadcast(n)),
        col("o").cast("double") / col("n"), col("o").cast("double") / col("ra"))
      ha.select(col("h").as("hha")).crossJoin(hb.select(col("h").as("hhb")))
        .crossJoin(hab.select(col("h").as("hhab")))
        .crossJoin(hba.select(col("h").as("hhba")))
        .select(round(col("hha").cast("double"), 6).as("h_a"),
          round(col("hhb").cast("double"), 6).as("h_b"),
          round((col("hha").cast("double") - col("hhab").cast("double"))
            / col("hha").cast("double"), 6).as("u_a_given_b"),
          round((col("hhb").cast("double") - col("hhba").cast("double"))
            / col("hhb").cast("double"), 6).as("u_b_given_a"))
    },

    // ---- A55: calibration curve + reliability bins (the a52 companion) ------
    // Discrimination (a52's AUC) and CALIBRATION are orthogonal: a
    // confidence score is trustworthy only if predicted probability ≈
    // empirical rate bin by bin. Deciles come from ntile(10) with a full
    // (p, doc_id) tiebreak; per-bin confidence is a 6dp-decimal mean of
    // an arithmetically-exact p (a linear rescale — no libm, so both
    // engines bit-agree), accuracy is an exact count ratio, and the
    // |gap| column is what an ECE weights. Scale shape mirrors a52:
    // at 100 TB the ntile runs over pre-grouped score buckets, here the
    // raw 500 docs stand in for them.
    Query("a55_calibration_bins",
      """WITH p AS (
        |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |         least(CAST(n_chars AS DOUBLE) / 1000.0,
        |               CAST(1.0 AS DOUBLE)) AS conf
        |  FROM documents),
        |b AS (SELECT y, conf,
        |             ntile(10) OVER (ORDER BY conf, doc_id) AS bin
        |      FROM p)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n,
        |       round(CAST(sum(CAST(round(conf, 6) AS DECIMAL(18,6)))
        |                  AS DOUBLE) / count(*), 6) AS mean_conf,
        |       round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS pos_rate,
        |       round(abs(CAST(sum(CAST(round(conf, 6) AS DECIMAL(18,6)))
        |                      AS DOUBLE) / count(*)
        |                 - CAST(sum(y) AS DOUBLE) / count(*)), 6) AS gap
        |FROM b GROUP BY 1""".stripMargin) { (s, d) =>
      val p = Tables.documents(s, d)
        .select(col("doc_id"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"),
          least(col("n_chars") / 1000.0, lit(1.0)).as("conf"))
      val w = Window.orderBy(col("conf"), col("doc_id"))
      val conf6 = round(col("conf"), 6).cast("decimal(18,6)")
      p.withColumn("bin", ntile(10).over(w))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum(conf6).as("sc"), sum("y").as("sy"))
        .select(col("bin").cast("long").as("bin"),
          col("n").cast("long").as("n"),
          round(col("sc").cast("double") / col("n"), 6).as("mean_conf"),
          round(col("sy").cast("double") / col("n"), 6).as("pos_rate"),
          round(abs(col("sc").cast("double") / col("n")
            - col("sy").cast("double") / col("n")), 6).as("gap"))
    },

    // ---- G35: multi-touch conversion attribution ----------------------------
    // Which channel gets credit for a purchase? The three standard
    // models over each user's event path: FIRST touch, LAST touch, and
    // LINEAR (1/k to each touch in the 7-day pre-purchase window).
    // The touch join is user-keyed with a residual time predicate —
    // per-user event counts are bounded, so the pair fan-out is too
    // (j26's zone-dwell contract); ordering ties break on event_id
    // everywhere. Linear credits are 6dp-decimal sums of one exact
    // division; first/last credits are exact counts, so the three
    // models reconcile: each sums to the attributed-purchase total.
    Query("g35_attribution",
      """WITH pur AS (
        |  SELECT user_id, event_id AS pid, epoch_us(ts) AS pt
        |  FROM events WHERE event_type = 'purchase'),
        |touch AS (
        |  SELECT p.pid, e.event_type, epoch_us(e.ts) AS tt, e.event_id
        |  FROM pur p JOIN events e ON e.user_id = p.user_id
        |  WHERE e.event_type IN ('view', 'click', 'signup')
        |    AND epoch_us(e.ts) < p.pt
        |    AND epoch_us(e.ts) >= p.pt - 604800000000),
        |k AS (SELECT pid, count(*) AS k FROM touch GROUP BY 1),
        |fl AS (SELECT pid, event_type, tt, event_id,
        |              row_number() OVER (PARTITION BY pid ORDER BY tt, event_id) AS rf,
        |              row_number() OVER (PARTITION BY pid ORDER BY tt DESC, event_id DESC) AS rl
        |       FROM touch)
        |SELECT fl.event_type,
        |       CAST(count(CASE WHEN rf = 1 THEN 1 END) AS BIGINT) AS first_touch,
        |       CAST(count(CASE WHEN rl = 1 THEN 1 END) AS BIGINT) AS last_touch,
        |       CAST(sum(CAST(round(CAST(1.0 AS DOUBLE) / k.k, 6)
        |                     AS DECIMAL(18,6))) AS DOUBLE) AS linear_credit
        |FROM fl JOIN k USING (pid)
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("pid"),
          unix_micros(col("ts")).as("pt"))
      // k, first/last windows share the touch join
      val touch = Materialize.pin(pur.join(
          ev.filter(col("event_type").isin("view", "click", "signup"))
            .select(col("user_id"), col("event_type"),
              unix_micros(col("ts")).as("tt"), col("event_id")),
          Seq("user_id"))
        .filter(col("tt") < col("pt") && col("tt") >= col("pt") - 604800000000L))
      val k = touch.groupBy("pid").agg(count(lit(1)).as("k"))
      val wf = Window.partitionBy("pid").orderBy(col("tt"), col("event_id"))
      val wl = Window.partitionBy("pid")
        .orderBy(col("tt").desc, col("event_id").desc)
      touch
        .withColumn("rf", row_number().over(wf))
        .withColumn("rl", row_number().over(wl))
        .join(k, Seq("pid"))
        .groupBy("event_type")
        .agg(count(when(col("rf") === 1, 1)).as("first_touch"),
          count(when(col("rl") === 1, 1)).as("last_touch"),
          sum(round(lit(1.0) / col("k"), 6).cast("decimal(18,6)"))
            .cast("double").as("linear_credit"))
        .select(col("event_type"),
          col("first_touch").cast("long").as("first_touch"),
          col("last_touch").cast("long").as("last_touch"),
          col("linear_credit"))
    },

    // ---- G36: time-to-convert latency per acquisition channel ---------------
    // g35 says WHO gets credit; g36 says HOW LONG conversion takes by
    // first-touch channel: per user, the first touch (min struct — the
    // j10 single-pass argmin, carrying the channel through the min) and
    // the first purchase strictly after it; per channel, exact p50/p90
    // of the latency in integer microseconds (quantile_cont/percentile
    // interpolate the same fixed-order formula — the a18 contract).
    // Two user-keyed hash aggs + one bounded join; no window over the
    // event table.
    Query("g36_time_to_convert",
      """WITH tch AS (
        |  SELECT user_id, epoch_us(ts) AS tt, event_type AS ch,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events WHERE event_type IN ('view', 'click', 'signup')),
        |ft AS (SELECT user_id, tt, ch FROM tch WHERE rn = 1),
        |conv AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS pt
        |  FROM events e JOIN ft ON e.user_id = ft.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > ft.tt
        |  GROUP BY 1),
        |lat AS (
        |  SELECT ft.ch AS channel, conv.pt - ft.tt AS latency_us
        |  FROM ft JOIN conv ON ft.user_id = conv.user_id)
        |SELECT channel, CAST(count(*) AS BIGINT) AS n_users,
        |       quantile_cont(latency_us, 0.5) AS p50_us,
        |       quantile_cont(latency_us, 0.9) AS p90_us
        |FROM lat GROUP BY 1""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val ft = ev.filter(col("event_type").isin("view", "click", "signup"))
        .groupBy("user_id")
        .agg(min(struct(unix_micros(col("ts")).as("tt"), col("event_id"),
          col("event_type").as("channel"))).as("f"))
        .select(col("user_id"), col("f.tt").as("tt"),
          col("f.channel").as("channel"))
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("pt"))
        .join(ft, Seq("user_id"))
        .filter(col("pt") > col("tt"))
        .groupBy("user_id", "channel", "tt").agg(min("pt").as("pt"))
      conv.select(col("channel"), (col("pt") - col("tt")).as("latency_us"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_users"),
          expr("percentile(latency_us, 0.5)").as("p50_us"),
          expr("percentile(latency_us, 0.9)").as("p90_us"))
    },

    // ---- A57: Mann-Kendall trend test (nonparametric a29) -------------------
    // a29 fits a LINE; Mann-Kendall asks only "is this series
    // monotonically drifting", robust to outliers and distribution —
    // the standard environmental/monitoring trend test. S sums the
    // signs of all day-pair comparisons per type (the self-join runs on
    // the AGGREGATED day series — days², never events²); the variance
    // carries the tie correction Σt(t−1)(2t+5); both are exact BIGINTs
    // off exact DECIMAL daily sums, and the continuity-corrected z is
    // one fixed-order double epilogue.
    Query("a57_mann_kendall",
      s"""WITH ${dailyTypeSumCte(xs => s"$xs AS x")},
        |s AS (
        |  SELECT a.event_type,
        |         sum(CASE WHEN b.x > a.x THEN 1
        |                  WHEN b.x < a.x THEN -1 ELSE 0 END) AS s,
        |         count(*) AS n_pairs
        |  FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day
        |  GROUP BY 1),
        |n AS (SELECT event_type, count(*) AS n FROM d GROUP BY 1),
        |ties AS (
        |  SELECT event_type,
        |         coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS tie_term
        |  FROM (SELECT event_type, x, count(*) AS t FROM d GROUP BY 1, 2
        |        HAVING count(*) > 1)
        |  GROUP BY 1)
        |SELECT s.event_type, CAST(s.s AS BIGINT) AS s,
        |       CAST(n.n AS BIGINT) AS n_days,
        |       CAST((n.n * (n.n - 1) * (2 * n.n + 5)
        |             - coalesce(ties.tie_term, 0)) AS BIGINT) AS var18,
        |       round(CASE WHEN s.s > 0 THEN (s.s - 1.0)
        |                  WHEN s.s < 0 THEN (s.s + 1.0)
        |                  ELSE CAST(0.0 AS DOUBLE) END
        |             / sqrt(CAST((n.n * (n.n - 1) * (2 * n.n + 5)
        |                          - coalesce(ties.tie_term, 0)) AS DOUBLE)
        |                    / 18.0), 6) AS z
        |FROM s JOIN n USING (event_type)
        |       LEFT JOIN ties USING (event_type)""".stripMargin) { (s, d) =>
      // pair join (both legs), n, and ties share it; event type x day
      val daily = Materialize.small(Temporal.dailyTypeSums(s, d)(_.as("x")))
      val pairs = daily.select(col("event_type"), col("day").as("d1"),
          col("x").as("x1"))
        .join(daily.select(col("event_type"), col("day").as("d2"),
          col("x").as("x2")), Seq("event_type"))
        .filter(col("d1") < col("d2"))
        .groupBy("event_type")
        .agg(sum(when(col("x2") > col("x1"), 1L)
          .when(col("x2") < col("x1"), -1L).otherwise(0L)).as("s"))
      val nD = daily.groupBy("event_type").agg(count(lit(1)).as("n"))
      val ties = daily.groupBy("event_type", "x").agg(count(lit(1)).as("t"))
        .filter(col("t") > 1)
        .groupBy("event_type")
        .agg(sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5))
          .as("tie_term"))
      val var18 = (col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5)
        - coalesce(col("tie_term"), lit(0L)))
      pairs.join(broadcast(nD), Seq("event_type"))
        .join(broadcast(ties), Seq("event_type"), "left")
        .select(col("event_type"), col("s").cast("long").as("s"),
          col("n").cast("long").as("n_days"),
          var18.cast("long").as("var18"),
          round(when(col("s") > 0, col("s") - 1.0)
            .when(col("s") < 0, col("s") + 1.0)
            .otherwise(lit(0.0))
            / sqrt(var18.cast("double") / 18.0), 6).as("z"))
    },

    // ---- G37: cohort lifetime value (signup week x weeks-since revenue) -----
    // The revenue companion to g12's retention matrix: users cohort by
    // the week of their FIRST signup, purchase value accumulates into
    // cumulative week-0..3 columns — the LTV curve a growth report
    // tracks. First-signup is the single-pass struct argmin; revenue
    // sums are exact DECIMAL(18,4); the pivot is conditional sums on the
    // bounded 4-week horizon. Two user-keyed hash aggs + one cohort agg.
    Query("g37_cohort_ltv",
      """WITH su AS (
        |  SELECT user_id,
        |         min(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS sd
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |rev AS (
        |  SELECT su.user_id, su.sd // 7 AS cohort_week,
        |         (datediff('day', DATE '1970-01-01', CAST(e.ts AS DATE)) - su.sd) // 7
        |           AS wk,
        |         CAST(e.value AS DECIMAL(18,4)) AS v
        |  FROM events e JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND datediff('day', DATE '1970-01-01', CAST(e.ts AS DATE)) >= su.sd),
        |coh AS (SELECT sd // 7 AS cohort_week, count(*) AS n_users
        |        FROM su GROUP BY 1)
        |SELECT coh.cohort_week, coh.n_users,
        |       CAST(coalesce(sum(CASE WHEN wk <= 0 THEN v END), 0) AS DOUBLE) AS ltv_w0,
        |       CAST(coalesce(sum(CASE WHEN wk <= 1 THEN v END), 0) AS DOUBLE) AS ltv_w1,
        |       CAST(coalesce(sum(CASE WHEN wk <= 2 THEN v END), 0) AS DOUBLE) AS ltv_w2,
        |       CAST(coalesce(sum(CASE WHEN wk <= 3 THEN v END), 0) AS DOUBLE) AS ltv_w3
        |FROM coh LEFT JOIN rev ON coh.cohort_week = rev.cohort_week
        |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val day = datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(day).as("sd"))
      val rev = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), day.as("pd"),
          col("value").cast("decimal(18,4)").as("v"))
        .join(su, Seq("user_id"))
        .filter(col("pd") >= col("sd"))
        .select((col("sd") / 7).cast("long").as("cohort_week"),
          ((col("pd") - col("sd")) / 7).cast("long").as("wk"), col("v"))
      val coh = su.select((col("sd") / 7).cast("long").as("cohort_week"))
        .groupBy("cohort_week").agg(count(lit(1)).as("n_users"))
      def ltv(k: Int) = coalesce(sum(when(col("wk") <= k, col("v"))),
        lit(0).cast("decimal(18,4)")).cast("double")
      coh.join(rev, Seq("cohort_week"), "left")
        .groupBy("cohort_week", "n_users")
        .agg(ltv(0).as("ltv_w0"), ltv(1).as("ltv_w1"),
          ltv(2).as("ltv_w2"), ltv(3).as("ltv_w3"))
    },

    // ---- A60: pass@k (the unbiased code-eval estimator) ---------------------
    // The metric every LLM code benchmark reports (Chen et al. 2021,
    // HumanEval): per task, n samples of which c pass; pass@k =
    // 1 − C(n−c,k)/C(n,k), estimated WITHOUT the biased empirical
    // 1−(1−c/n)^k. The binomial ratio telescopes to falling factorials
    // — Π_{i<k}(n−c−i) / Π_{i<k}(n−i) — computed as exact
    // DECIMAL(38,0)/HUGEINT products (n^5 leaves BIGINT at ~6k
    // samples/task) and ONE double division; n−c < k short-circuits to
    // pass@k = 1 before a zero/negative factor can touch the product.
    // Fixture: tasks and pass verdicts synthesized from lineitem. One
    // hash aggregate; everything after is task-cardinality.
    Query("a60_pass_at_k",
      """WITH s AS (
        |  SELECT l_partkey % 100 AS task_id,
        |         CASE WHEN (l_orderkey * 7 + l_linenumber) % 4 = 0
        |              THEN 1 ELSE 0 END AS pass
        |  FROM lineitem),
        |t AS (SELECT task_id, count(*) AS n, sum(pass) AS c
        |      FROM s GROUP BY 1)
        |SELECT CAST(task_id AS BIGINT) AS task_id,
        |       CAST(n AS BIGINT) AS n, CAST(c AS BIGINT) AS c,
        |       round(CAST(c AS DOUBLE) / n, 9) AS pass_at_1,
        |       CASE WHEN n - c < 5 THEN CAST(1.0 AS DOUBLE)
        |            ELSE round(1.0 -
        |              CAST(CAST(n-c AS HUGEINT) * (n-c-1) * (n-c-2)
        |                   * (n-c-3) * (n-c-4) AS DOUBLE)
        |              / CAST(CAST(n AS HUGEINT) * (n-1) * (n-2)
        |                     * (n-3) * (n-4) AS DOUBLE), 9)
        |       END AS pass_at_5
        |FROM t WHERE n >= 5""".stripMargin) { (s, d) =>
      val t = Tables.lineitem(s, d)
        .select((col("l_partkey") % 100).as("task_id"),
          when((col("l_orderkey") * 7 + col("l_linenumber")) % 4 === 0, 1L)
            .otherwise(0L).as("pass"))
        .groupBy("task_id")
        .agg(count(lit(1)).as("n"), sum("pass").as("c"))
      val dec = "decimal(38,0)"
      def fall(base: org.apache.spark.sql.Column) =
        (0 until 5).map(i => base - i)
          .foldLeft(lit(1).cast(dec))((acc, f) => acc * f).cast("double")
      // n^5 exceeds 38 digits past n ≈ 4e7 samples/task; non-ANSI Spark
      // would null the decimal product silently where the oracle's
      // HUGEINT raises — fail loudly instead (the a54/a59 guard class)
      val nGuard = when(col("n") < 40000000L, col("n").cast("long"))
        .otherwise(raise_error(lit("a60: n exceeds decimal(38,0) exact bound")))
      t.filter(col("n") >= 5)
        .select(col("task_id").cast("long").as("task_id"),
          nGuard.as("n"), col("c").cast("long").as("c"),
          round(col("c").cast("double") / col("n"), 9).as("pass_at_1"),
          when(col("n") - col("c") < 5, lit(1.0))
            .otherwise(round(lit(1.0)
              - fall(col("n") - col("c")) / fall(col("n")), 9))
            .as("pass_at_5"))
    },

    // ---- A63: Bradley-Terry preference ratings (arena-style eval) ----------
    // The model-ranking fit behind every pairwise-preference
    // leaderboard: strengths π from win/loss comparisons via 3
    // deterministic MM rounds (Hunter 2004), π_i ← W_i / Σ_j n_ij/(π_i+π_j).
    // Each denominator term rounds to a 6dp DECIMAL before the sum —
    // exact, order-independent — so the doubles that enter round r+1
    // are bit-identical on both engines and the whole loop unrolls as
    // SQL CTEs (the s19/Lloyd precedent applied to a float fixpoint).
    // The FIXTURE is itself Bradley-Terry: matchup (a, b) is decided by
    // h % (a+b+2) < a+1, i.e. true strengths 1..8 — so the fit's
    // ordering recovering 0..7 is a semantic check, not a coincidence
    // (Round13Spec pins monotonicity). Comparison volume aggregates in
    // ONE hash pass; everything after is model-pair-cardinality.
    Query("a63_bradley_terry",
      """WITH raw AS (
        |  SELECT o_orderkey % 8 AS a, o_custkey % 8 AS b,
        |         CASE WHEN (o_orderkey * 13 + o_custkey * 7)
        |                   % (o_orderkey % 8 + o_custkey % 8 + 2)
        |                   < o_orderkey % 8 + 1 THEN 1 ELSE 0 END AS aw
        |  FROM orders WHERE o_orderkey % 8 <> o_custkey % 8),
        |dir AS (
        |  SELECT i, j, CAST(sum(w) AS BIGINT) AS w,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT a AS i, b AS j, aw AS w FROM raw
        |        UNION ALL SELECT b, a, 1 - aw FROM raw)
        |  GROUP BY 1, 2),
        |wt AS (SELECT i, CAST(sum(w) AS BIGINT) AS wi,
        |              CAST(sum(n) AS BIGINT) AS ni FROM dir GROUP BY 1),
        |p0 AS (SELECT i, CAST(1.0 AS DOUBLE) AS pi FROM wt),
        |p1 AS MATERIALIZED (
        |  SELECT d.i, CAST(wt.wi AS DOUBLE)
        |         / CAST(sum(CAST(round(d.n / (x.pi + y.pi), 6)
        |                         AS DECIMAL(18,6))) AS DOUBLE) AS pi
        |  FROM dir d JOIN p0 x ON d.i = x.i JOIN p0 y ON d.j = y.i
        |       JOIN wt ON wt.i = d.i
        |  GROUP BY d.i, wt.wi),
        |p2 AS MATERIALIZED (
        |  SELECT d.i, CAST(wt.wi AS DOUBLE)
        |         / CAST(sum(CAST(round(d.n / (x.pi + y.pi), 6)
        |                         AS DECIMAL(18,6))) AS DOUBLE) AS pi
        |  FROM dir d JOIN p1 x ON d.i = x.i JOIN p1 y ON d.j = y.i
        |       JOIN wt ON wt.i = d.i
        |  GROUP BY d.i, wt.wi),
        |p3 AS MATERIALIZED (
        |  SELECT d.i, CAST(wt.wi AS DOUBLE)
        |         / CAST(sum(CAST(round(d.n / (x.pi + y.pi), 6)
        |                         AS DECIMAL(18,6))) AS DOUBLE) AS pi
        |  FROM dir d JOIN p2 x ON d.i = x.i JOIN p2 y ON d.j = y.i
        |       JOIN wt ON wt.i = d.i
        |  GROUP BY d.i, wt.wi),
        |tot AS (SELECT sum(CAST(round(pi, 6) AS DECIMAL(18,6))) AS sp FROM p3)
        |SELECT p3.i AS model, wt.wi AS n_wins, wt.ni AS n_games,
        |       round(p3.pi, 9) AS pi,
        |       round(p3.pi / CAST(tot.sp AS DOUBLE), 9) AS share
        |FROM p3 JOIN wt ON p3.i = wt.i CROSS JOIN tot""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val raw = o.filter(col("o_orderkey") % 8 =!= col("o_custkey") % 8)
        .select((col("o_orderkey") % 8).as("a"), (col("o_custkey") % 8).as("b"),
          when((col("o_orderkey") * 13 + col("o_custkey") * 7)
            % (col("o_orderkey") % 8 + col("o_custkey") % 8 + 2)
            < col("o_orderkey") % 8 + 1, 1L).otherwise(0L).as("aw"))
      // 56 rows (8 x 7 ordered pairs) drive 3 fixpoint rounds — one scan
      val dir = Materialize.small(raw.select(col("a").as("i"), col("b").as("j"), col("aw").as("w"))
        .unionAll(raw.select(col("b"), col("a"), lit(1L) - col("aw")))
        .groupBy("i", "j").agg(sum("w").as("w"), count(lit(1)).as("n")))
      val wt = dir.groupBy("i").agg(sum("w").as("wi"), sum("n").as("ni"))
      var pi = wt.select(col("i"), lit(1.0).as("pi"))
      for (_ <- 1 to 3) {
        pi = dir
          .join(broadcast(pi.select(col("i"), col("pi").as("pi_i"))), "i")
          .join(broadcast(pi.select(col("i").as("j"), col("pi").as("pi_j"))), "j")
          .groupBy("i")
          .agg(sum(round(col("n") / (col("pi_i") + col("pi_j")), 6)
            .cast("decimal(18,6)")).as("dsum"))
          .join(broadcast(wt.select("i", "wi")), "i")
          .select(col("i"),
            (col("wi").cast("double") / col("dsum").cast("double")).as("pi"))
      }
      val tot = pi.agg(sum(round(col("pi"), 6).cast("decimal(18,6)")).as("sp"))
      pi.join(broadcast(wt), "i").crossJoin(broadcast(tot))
        .select(col("i").as("model"), col("wi").cast("long").as("n_wins"),
          col("ni").cast("long").as("n_games"),
          round(col("pi"), 9).as("pi"),
          round(col("pi") / col("sp").cast("double"), 9).as("share"))
    },

    // ---- A62: Cohen's kappa (inter-annotator / model agreement) ------------
    // The agreement statistic every labeling pipeline reports before
    // trusting its annotations (two raters here — e.g. a model vs a
    // human pass over the same items): kappa = (p_o − p_e)/(1 − p_e),
    // computed in the all-integer identity form
    // (n·Σdiag − Σ_k row_k·col_k) / (n² − Σ_k row_k·col_k) — exact
    // DECIMAL(38,0)/HUGEINT products, ONE double division at the end.
    // Same one-scan contingency shape as a54/a56: marginals derive from
    // the (a, b) hash aggregate, everything after is level-product-
    // sized. Fixture: two deterministic 4-way raters from orders with
    // genuine partial agreement.
    Query("a62_cohens_kappa",
      """WITH r AS (
        |  SELECT (o_orderkey * 7) % 4 AS a,
        |         CASE WHEN o_orderkey % 3 = 0 THEN (o_custkey * 5) % 4
        |              ELSE (o_orderkey * 7) % 4 END AS b
        |  FROM orders),
        |t AS (SELECT a, b, count(*) AS o FROM r GROUP BY 1, 2),
        |ra AS (SELECT a, sum(o) AS na FROM t GROUP BY 1),
        |cb AS (SELECT b, sum(o) AS nb FROM t GROUP BY 1),
        |n AS (SELECT sum(o) AS n,
        |             sum(CASE WHEN a = b THEN o ELSE 0 END) AS diag
        |      FROM t),
        |pe AS (SELECT sum(CAST(na AS HUGEINT) * nb) AS chance
        |       FROM ra JOIN cb ON ra.a = cb.b)
        |SELECT CAST(n.n AS BIGINT) AS n, CAST(n.diag AS BIGINT) AS n_agree,
        |       round(CAST(n.diag AS DOUBLE) / n.n, 9) AS p_o,
        |       round(CAST(pe.chance AS DOUBLE)
        |             / CAST(CAST(n.n AS HUGEINT) * n.n AS DOUBLE), 9) AS p_e,
        |       round(CAST(CAST(n.n AS HUGEINT) * n.diag - pe.chance AS DOUBLE)
        |             / CAST(CAST(n.n AS HUGEINT) * n.n - pe.chance AS DOUBLE), 9)
        |         AS kappa
        |FROM n CROSS JOIN pe""".stripMargin) { (s, d) =>
      val dec = "decimal(38,0)"
      val r = Tables.orders(s, d).select(
        ((col("o_orderkey") * 7) % 4).as("a"),
        when(col("o_orderkey") % 3 === 0, (col("o_custkey") * 5) % 4)
          .otherwise((col("o_orderkey") * 7) % 4).as("b"))
      // marginals + totals share one scan; 4 x 4 rating cells
      val t = Materialize.small(r.groupBy("a", "b").agg(count(lit(1)).as("o")))
      val ra = t.groupBy("a").agg(sum("o").as("na"))
      val cb = t.groupBy("b").agg(sum("o").as("nb"))
      val n = t.agg(sum("o").as("n"),
        sum(when(col("a") === col("b"), col("o")).otherwise(0L)).as("diag"))
      val pe = ra.join(cb, col("a") === col("b"))
        .agg(sum(col("na").cast(dec) * col("nb")).as("chance"))
      n.crossJoin(broadcast(pe)).select(
        col("n").cast("long").as("n"),
        col("diag").cast("long").as("n_agree"),
        round(col("diag").cast("double") / col("n"), 9).as("p_o"),
        round(col("chance").cast("double")
          / (col("n").cast(dec) * col("n")).cast("double"), 9).as("p_e"),
        round((col("n").cast(dec) * col("diag") - col("chance")).cast("double")
          / (col("n").cast(dec) * col("n") - col("chance")).cast("double"), 9)
          .as("kappa"))
    },

    // ---- A61: Brier score + Murphy decomposition ---------------------------
    // a55 reports calibration bins; this row reduces forecast quality to
    // the standard three-way split: Brier = reliability − resolution +
    // uncertainty (Murphy 1973), over probability forecasts bucketed
    // into 10 fixed bins. Probabilities live on a milli-unit grid by
    // construction, so every bin sum (Σp, Σo, Σp², Σpo) is an exact
    // BIGINT and each output is one fixed-order double expression over
    // exact inputs. Reliability measures miscalibration (p̄_b vs ō_b),
    // resolution measures discrimination (ō_b vs ō) — a52's AUC ranks,
    // this scores. Fixture: forecasts/outcomes synthesized from orders
    // with outcome rate tracking the forecast, so the decomposition is
    // non-degenerate. One hash aggregate, bin-cardinality epilogue.
    Query("a61_brier_decomposition",
      """WITH f AS (
        |  SELECT (o_orderkey * 37) % 1000 AS pm,
        |         CASE WHEN (o_orderkey * 13 + o_custkey) % 1000
        |                   < (o_orderkey * 37) % 1000
        |              THEN 1 ELSE 0 END AS o
        |  FROM orders),
        |b AS (
        |  SELECT pm // 100 AS bin, count(*) AS nb,
        |         sum(pm) AS sp, sum(o) AS so,
        |         sum(CAST(pm AS HUGEINT) * pm) AS spp,
        |         sum(CAST(pm AS HUGEINT) * o * 1000) AS spo
        |  FROM f GROUP BY 1),
        |tot AS (SELECT sum(nb) AS n, sum(so) AS sot FROM b),
        |terms AS (
        |  SELECT CAST(round(nb * (CAST(sp AS DOUBLE) / nb / 1000
        |                          - CAST(so AS DOUBLE) / nb)
        |                       * (CAST(sp AS DOUBLE) / nb / 1000
        |                          - CAST(so AS DOUBLE) / nb), 9)
        |              AS DECIMAL(20,9)) AS rel_t,
        |         CAST(round(nb * (CAST(so AS DOUBLE) / nb
        |                          - CAST(sot AS DOUBLE) / n)
        |                       * (CAST(so AS DOUBLE) / nb
        |                          - CAST(sot AS DOUBLE) / n), 9)
        |              AS DECIMAL(20,9)) AS res_t,
        |         CAST(spp AS DOUBLE) / 1000000 - 2.0 * CAST(spo AS DOUBLE) / 1000000
        |           + CAST(so AS DOUBLE) AS brier_num
        |  FROM b CROSS JOIN tot),
        |agg AS (SELECT sum(rel_t) AS rel, sum(res_t) AS res,
        |               CAST(sum(CAST(round(brier_num, 6) AS DECIMAL(18,6)))
        |                    AS DOUBLE) AS bn
        |        FROM terms)
        |SELECT round(bn / n, 9) AS brier,
        |       round(CAST(rel AS DOUBLE) / n, 9) AS reliability,
        |       round(CAST(res AS DOUBLE) / n, 9) AS resolution,
        |       round(CAST(sot AS DOUBLE) / n
        |             * (1.0 - CAST(sot AS DOUBLE) / n), 9) AS uncertainty,
        |       CAST(n AS BIGINT) AS n
        |FROM agg CROSS JOIN tot""".stripMargin) { (s, d) =>
      val f = Tables.orders(s, d)
        .select(((col("o_orderkey") * 37) % 1000).as("pm"),
          when((col("o_orderkey") * 13 + col("o_custkey")) % 1000
            < (col("o_orderkey") * 37) % 1000, 1L).otherwise(0L).as("o"))
      val dec = "decimal(38,0)"
      val b = f.groupBy(expr("pm div 100").as("bin"))
        .agg(count(lit(1)).as("nb"), sum("pm").as("sp"), sum("o").as("so"),
          sum((col("pm").cast(dec) * col("pm"))).as("spp"),
          sum((col("pm").cast(dec) * col("o") * 1000)).as("spo"))
      val tot = b.agg(sum("nb").as("n"), sum("so").as("sot"))
      val dRel = col("sp").cast("double") / col("nb") / 1000 -
        col("so").cast("double") / col("nb")
      val dRes = col("so").cast("double") / col("nb") -
        col("sot").cast("double") / col("n")
      val terms = b.crossJoin(broadcast(tot)).select(
        round(col("nb") * dRel * dRel, 9)
          .cast("decimal(20,9)").as("rel_t"),
        round(col("nb") * dRes * dRes, 9)
          .cast("decimal(20,9)").as("res_t"),
        (col("spp").cast("double") / 1000000
          - lit(2.0) * col("spo").cast("double") / 1000000
          + col("so").cast("double")).as("brier_num"))
      val agg = terms.agg(sum("rel_t").as("rel"), sum("res_t").as("res"),
        sum(round(col("brier_num"), 6).cast("decimal(18,6)"))
          .cast("double").as("bn"))
      agg.crossJoin(broadcast(tot)).select(
        round(col("bn") / col("n"), 9).as("brier"),
        round(col("rel").cast("double") / col("n"), 9).as("reliability"),
        round(col("res").cast("double") / col("n"), 9).as("resolution"),
        round(col("sot").cast("double") / col("n")
          * (lit(1.0) - col("sot").cast("double") / col("n")), 9)
          .as("uncertainty"),
        col("n").cast("long").as("n"))
    },

    // ---- A59: seasonality / trend strength (Hyndman's F-measures) ----------
    // w34 produces the decomposition; a59 reduces it to the two numbers
    // a monitoring catalog stores per series: F_seasonal =
    // max(0, 1 − Var(R)/Var(S+R)) and F_trend = max(0, 1 − Var(R)/
    // Var(T+R)) — how much of the detrended (resp. deseasonalized)
    // variation the component explains. Components replicate w34's
    // exact construction; every variance input rounds to 6dp DECIMAL,
    // sums exactly, and the population-variance epilogue
    // (n·Σx² − (Σx)²)/n² runs on doubles cast from exact sums — one
    // fixed-order expression per measure.
    Query("a59_seasonality_strength",
      s"""WITH ${OracleSnippets.SeasonalCtes},
        |c AS (
        |  -- integer micro-units: exact squares/sums; the 1e12 scale and
        |  -- the n^2 variance denominators both cancel in the F ratios
        |  SELECT t2.event_type,
        |         CAST(CAST(round(t2.det, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS de,
        |         CAST(CAST(round(t2.det - s.seasonal, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS re,
        |         CAST(CAST(round(t2.x - s.seasonal, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS tr
        |  FROM t2 JOIN s ON t2.event_type = s.event_type AND t2.dow = s.dow),
        |v AS (
        |  SELECT event_type, count(*) AS n,
        |         CAST(sum(de) AS DOUBLE) AS sde,
        |         CAST(sum(CAST(de AS HUGEINT) * de) AS DOUBLE) AS sde2,
        |         CAST(sum(re) AS DOUBLE) AS sre,
        |         CAST(sum(CAST(re AS HUGEINT) * re) AS DOUBLE) AS sre2,
        |         CAST(sum(tr) AS DOUBLE) AS str,
        |         CAST(sum(CAST(tr AS HUGEINT) * tr) AS DOUBLE) AS str2
        |  FROM c GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |       CASE WHEN n * sde2 - sde * sde = 0 THEN CAST(0.0 AS DOUBLE)
        |            ELSE round(greatest(CAST(0.0 AS DOUBLE),
        |              1.0 - (n * sre2 - sre * sre) / (n * sde2 - sde * sde)), 6)
        |       END AS f_seasonal,
        |       CASE WHEN n * str2 - str * str = 0 THEN CAST(0.0 AS DOUBLE)
        |            ELSE round(greatest(CAST(0.0 AS DOUBLE),
        |              1.0 - (n * sre2 - sre * sre) / (n * str2 - str * str)), 6)
        |       END AS f_trend
        |FROM v""".stripMargin) { (s, d) =>
      val (t2, seas) = Temporal.seasonalParts(s, d)
      def d6(c: org.apache.spark.sql.Column) = {
        val m = (round(c, 6).cast("decimal(18,6)") * 1000000).cast("long")
        // non-ANSI Spark nulls a decimal(38,0) overflow silently where
        // the oracle's HUGEINT stays exact; micro-units < 1e15 keep
        // n·m² under 38 digits for any n ≤ 1e8 days — fail loudly past
        // the documented ceiling instead of diverging
        when(abs(m) < 1000000000000000L, m)
          .otherwise(raise_error(lit("a59: micro-unit exceeds exact-sum bound"))
            .cast("long"))
      }
      val comp = t2.join(broadcast(seas), Seq("event_type", "dow"))
        .select(col("event_type"), d6(col("det")).as("de"),
          d6(col("det") - col("seasonal")).as("re"),
          d6(col("x") - col("seasonal")).as("tr"))
      // sums in decimal(38,0) — a plain Long sum would wrap where the
      // oracle's HUGEINT doesn't. Scale ceiling (documented, not
      // reachable here): micro-unit components cap at decimal(18,6),
      // i.e. |det| < 1e12 — daily decimal(18,4) event sums stay orders
      // of magnitude below it at any replica factor measured.
      def sq(c: org.apache.spark.sql.Column) =
        sum(c.cast("decimal(38,0)") * c).cast("double")
      val v = comp.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("de").cast("decimal(38,0)")).cast("double").as("sde"),
          sq(col("de")).as("sde2"),
          sum(col("re").cast("decimal(38,0)")).cast("double").as("sre"),
          sq(col("re")).as("sre2"),
          sum(col("tr").cast("decimal(38,0)")).cast("double").as("str"),
          sq(col("tr")).as("str2"))
      val numR = col("n") * col("sre2") - col("sre") * col("sre")
      def f(s2: String, su: String) = {
        val den = col("n") * col(s2) - col(su) * col(su)
        when(den === 0.0, lit(0.0))
          .otherwise(round(greatest(lit(0.0), lit(1.0) - numR / den), 6))
      }
      v.select(col("event_type"), col("n").cast("long").as("n_days"),
        f("sde2", "sde").as("f_seasonal"), f("str2", "str").as("f_trend"))
    },

    // ---- A29: per-group linear regression (trend detection) ---------------
    // Least-squares fit of order value against order date per priority
    // class — the "is this metric drifting over time" monitor. All six
    // sufficient statistics are EXACT integers: x is an epoch-day, y is
    // scaled to 1e-4 currency units (yi = price * 10^4 — DECIMAL(38,0)
    // here, HUGEINT in the oracle; int128 either way), so the
    // slope/intercept/r2 epilogue is a fixed-order double expression over
    // identical exact inputs — bit-stable at any partition count, which
    // is the property a 1000-executor run needs. One hash aggregate, one
    // exchange. Matches regr_slope/regr_intercept/regr_r2 to 6 dp.
    Query("a29_regr_trend",
      """WITH b AS (
        |  SELECT o_orderpriority,
        |         CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS HUGEINT) AS x,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS HUGEINT) AS yi
        |  FROM orders),
        |s AS (
        |  SELECT o_orderpriority, CAST(count(*) AS HUGEINT) AS n,
        |         sum(x) AS sx, sum(yi) AS sy, sum(x * yi) AS sxy,
        |         sum(x * x) AS sxx, sum(yi * yi) AS syy
        |  FROM b GROUP BY 1)
        |SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |        / CAST(n * sxx - sx * sx AS DOUBLE) / 10000.0, 6) AS slope,
        |  round((CAST(sy AS DOUBLE) / 10000.0
        |          - CAST(n * sxy - sx * sy AS DOUBLE)
        |            / CAST(n * sxx - sx * sx AS DOUBLE) / 10000.0
        |            * CAST(sx AS DOUBLE))
        |        / CAST(n AS DOUBLE), 6) AS intercept,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
        |        / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)),
        |        6) AS r2
        |FROM s""".stripMargin) {
      (s, d) => {
        val x = datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
          .cast("decimal(38,0)")
        val yi = (col("o_totalprice").cast("decimal(18,4)") * 10000)
          .cast("decimal(38,0)")
        val agg = Tables.orders(s, d)
          .select(col("o_orderpriority"), x.as("x"), yi.as("yi"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
            sum(col("x")).as("sx"), sum(col("yi")).as("sy"),
            sum(col("x") * col("yi")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("yi") * col("yi")).as("syy"))
        val num  = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
        val denx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
        val deny = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
        val slope = num / denx / 10000.0
        agg.select(col("o_orderpriority"), col("n").cast("long").as("n"),
          round(slope, 6).as("slope"),
          round((col("sy").cast("double") / 10000.0
            - slope * col("sx").cast("double")) / col("n").cast("double"), 6)
            .as("intercept"),
          round(num * num / (denx * deny), 6).as("r2"))
      }
    },

    // ---- A30: PSI distribution drift between time slices ------------------
    // Population Stability Index of the event-value distribution between
    // even and odd epoch-days (interleaved A/B slices are testdata-drift
    // proof), per event type over 10 fixed value buckets. Empty buckets
    // participate via a generated 10-row spine and Laplace smoothing
    // (+0.5 per bucket), so ln never sees zero. Per-bucket terms are
    // rounded to 6 dp and summed as DECIMAL(18,6) — the t34 discipline:
    // integer arithmetic underneath, immune to partition-order drift.
    // Two exchanges total: the (type,slice,bucket) count and the
    // per-type rollup; the spine join broadcasts.
    Query("a30_psi_drift", PsiDriftOracleSql) {
      (s, d) => {
        val b = Tables.events(s, d).select(col("event_type"),
          (datediff(to_date(col("ts")), lit("1970-01-01")) % 2).as("slice"),
          least(lit(9L), greatest(lit(0L), floor(col("value") / 50.0).cast("long")))
            .as("bucket"))
        psiOfSlices(b)
      }
    },

    // ---- W22: activity streaks (gaps-and-islands) -------------------------
    // Longest run of consecutive active days per user — the classic
    // islands derivation: distinct (user, day), row_number per user in
    // day order, island id = epoch_day - rn (constant within a run).
    // The distinct pre-aggregates map-side; the window and both follow-up
    // groupBys all hash on user_id, so past the distinct there is ONE
    // exchange. No cross-user state — scales per-key.
    Query("w22_streaks",
      """WITH d AS (
        |  SELECT DISTINCT user_id,
        |         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
        |  FROM events),
        |i AS (SELECT user_id, day,
        |             day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
        |      FROM d),
        |r AS (SELECT user_id, island, count(*) AS len, max(day) AS last_day
        |      FROM i GROUP BY 1, 2)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_streaks,
        |       CAST(max(len) AS BIGINT) AS longest,
        |       CAST(sum(len) AS BIGINT) AS active_days,
        |       CAST(max(last_day) AS BIGINT) AS last_active_day
        |FROM r GROUP BY user_id""".stripMargin) {
      (s, d) => {
        val day = datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
        val w = Window.partitionBy("user_id").orderBy("day")
        Tables.events(s, d)
          .select(col("user_id"), day.as("day")).distinct()
          .select(col("user_id"), col("day"),
            (col("day") - row_number().over(w)).as("island"))
          .groupBy("user_id", "island")
          .agg(count(lit(1)).as("len"), max(col("day")).as("last_day"))
          .groupBy("user_id")
          .agg(count(lit(1)).cast("long").as("n_streaks"),
            max(col("len")).cast("long").as("longest"),
            sum(col("len")).cast("long").as("active_days"),
            max(col("last_day")).cast("long").as("last_active_day"))
      }
    },

    // ---- W23: time-bucket OHLC rollup -------------------------------------
    // Open/high/low/close per (event_type, hour): first/last by event
    // time in ONE hash aggregate via min_by/max_by — no window, no
    // second shuffle, map-side combinable (each partial keeps one
    // candidate per group). Tie-breaks are total: the ordering key is
    // a zero-padded (epoch_us, event_id) string, identical lexicographic
    // = numeric order in both engines. Both pads are 20 chars: a
    // non-negative BIGINT is at most 19 digits, so neither key can
    // truncate at any id/timestamp scale (ADVICE r7 — the old 12-char
    // id pad silently truncated ids >= 10^12).
    Query("w23_ohlc",
      """WITH b AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour, value,
        |         lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
        |           || lpad(CAST(event_id AS VARCHAR), 20, '0') AS ord
        |  FROM events)
        |SELECT event_type, hour,
        |       round(arg_min(value, ord), 6) AS open,
        |       round(max(value), 6) AS high,
        |       round(min(value), 6) AS low,
        |       round(arg_max(value, ord), 6) AS close,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM b GROUP BY 1, 2""".stripMargin) {
      (s, d) => {
        val ord = concat(
          lpad(unix_micros(col("ts")).cast("string"), 20, "0"),
          lpad(col("event_id").cast("string"), 20, "0"))
        Tables.events(s, d)
          .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"),
            col("value"), ord.as("ord"))
          .groupBy("event_type", "hour")
          .agg(round(min_by(col("value"), col("ord")), 6).as("open"),
            round(max(col("value")), 6).as("high"),
            round(min(col("value")), 6).as("low"),
            round(max_by(col("value"), col("ord")), 6).as("close"),
            count(lit(1)).cast("long").as("n"))
      }
    },

    // ---- W24: two-sample Kolmogorov-Smirnov drift statistic ---------------
    // The nonparametric partner of a30's PSI: per event type, the KS
    // distance between the even-day and odd-day value distributions —
    // max over observed values of |ECDF_a - ECDF_b|. ENTIRELY exact:
    // per-value cumulative counts are integers, the max is taken over
    // the integer cross-products |ca*nb - cb*na| (common denominator
    // na*nb deferred), and the only double op is one final division —
    // no per-row float ever crosses an engine boundary. Plan: one
    // (type, value) hash aggregate, one type-keyed window (same
    // exchange), broadcast totals join, final agg — per-type state only.
    Query("w24_ks_drift",
      s"""WITH ${OracleSnippets.SliceValueCountCtes},
        |c AS (SELECT event_type, value,
        |             sum(da) OVER (PARTITION BY event_type ORDER BY value NULLS LAST
        |                           ROWS UNBOUNDED PRECEDING) AS ca,
        |             sum(db) OVER (PARTITION BY event_type ORDER BY value NULLS LAST
        |                           ROWS UNBOUNDED PRECEDING) AS cb
        |      FROM g),
        |t AS (SELECT event_type, sum(da) AS na, sum(db) AS nb
        |      FROM g GROUP BY 1)
        |SELECT c.event_type, CAST(t.na AS BIGINT) AS na, CAST(t.nb AS BIGINT) AS nb,
        |       round(CAST(max(abs(c.ca * t.nb - c.cb * t.na)) AS DOUBLE)
        |             / CAST(t.na * t.nb AS DOUBLE), 6) AS ks
        |FROM c JOIN t ON c.event_type = t.event_type
        |GROUP BY c.event_type, t.na, t.nb""".stripMargin) {
      (s, d) => {
        val g = sliceValueCounts(s, d)
        val w = valueRunning
        val c = g.select(col("event_type"), col("value"),
          sum(col("da")).over(w).as("ca"), sum(col("db")).over(w).as("cb"))
        val t = g.groupBy("event_type")
          .agg(sum(col("da")).as("na"), sum(col("db")).as("nb"))
        c.join(broadcast(t), "event_type")
          .groupBy(col("event_type"), col("na"), col("nb"))
          .agg(round(max(abs(col("ca") * col("nb") - col("cb") * col("na")))
            .cast("double") / (col("na") * col("nb")).cast("double"), 6).as("ks"))
          .select(col("event_type"), col("na").cast("long").as("na"),
            col("nb").cast("long").as("nb"), col("ks"))
      }
    },

    // ---- G14: data-quality expectation battery ----------------------------
    // The dbt-tests / Great-Expectations layer as one engine pass: each
    // TABLE's rules fuse into a single aggregate (one scan per table, a
    // 100 TB necessity — never one scan per rule), the referential rule
    // is a broadcast anti-join count, and the result stacks into one
    // (rule, n_violations, pass) contract table the pipeline gates on.
    Query("g14_expectations",
      """SELECT rule, n_violations, n_violations = 0 AS pass FROM (
        |  SELECT 'orders_custkey_not_null' AS rule,
        |         CAST(count(CASE WHEN o_custkey IS NULL THEN 1 END) AS BIGINT) AS n_violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders_orderkey_unique',
        |         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'orders_price_positive',
        |         CAST(count(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0 THEN 1 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders_customer_fk',
        |         CAST(count(*) AS BIGINT)
        |  FROM orders o WHERE o.o_custkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |  UNION ALL
        |  SELECT 'lineitem_quantity_range',
        |         CAST(count(CASE WHEN l_quantity IS NULL OR l_quantity < 0 OR l_quantity > 60
        |                    THEN 1 END) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'events_ts_bounds',
        |         CAST(count(CASE WHEN ts IS NULL OR ts < TIMESTAMP '2000-01-01' THEN 1 END) AS BIGINT)
        |  FROM events
        |  UNION ALL
        |  SELECT 'documents_text_nonempty',
        |         CAST(count(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 END) AS BIGINT)
        |  FROM documents) t""".stripMargin) {
      (s, d) => {
        def one(rule: String, c: Column): Column =
          struct(lit(rule).as("rule"), c.cast("long").as("n_violations"))
        val orders = Tables.orders(s, d)
        // orders rules: ONE scan, three counters — in the a17 two-level
        // form (VERDICT r8 item 3). Mixing countDistinct with plain
        // counters in one aggregate Expands the scan x2 (measured at 100x:
        // 453 s vs 49 s for this rewrite; see ApproxBucketSpec):
        // instead, level 1 groups by the distinct key and carries the
        // plain counters as partial sums (map-side combinable), level 2
        // folds them — the uniqueness violation count is sum(n) minus
        // the number of non-null key groups, exactly count(*) -
        // count(DISTINCT key). No Expand anywhere in the plan.
        val perKey = orders.groupBy("o_orderkey").agg(
          count(lit(1)).as("__n"),
          count(when(col("o_custkey").isNull, 1)).as("__nullck"),
          count(when(col("o_totalprice").isNull || col("o_totalprice") <= 0, 1))
            .as("__badprice"))
        val o = perKey.agg(
          one("orders_custkey_not_null",
            coalesce(sum("__nullck"), lit(0L))).as("r1"),
          one("orders_orderkey_unique",
            coalesce(sum("__n"), lit(0L))
              - count(when(col("o_orderkey").isNotNull, 1))).as("r2"),
          one("orders_price_positive",
            coalesce(sum("__badprice"), lit(0L))).as("r3"))
          .select(explode(array(col("r1"), col("r2"), col("r3"))).as("r"))
        val fk = orders.filter(col("o_custkey").isNotNull)
          .join(broadcast(Tables.customer(s, d).select(col("c_custkey"))),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(one("orders_customer_fk", count(lit(1))).as("r"))
          .select(col("r"))
        val li = Tables.lineitem(s, d).agg(
          one("lineitem_quantity_range",
            count(when(col("l_quantity").isNull || col("l_quantity") < 0
              || col("l_quantity") > 60, 1))).as("r")).select(col("r"))
        val ev = Tables.events(s, d).agg(
          one("events_ts_bounds",
            count(when(col("ts").isNull || col("ts") < lit("2000-01-01").cast("timestamp"), 1)))
            .as("r")).select(col("r"))
        val doc = Tables.documents(s, d).agg(
          one("documents_text_nonempty",
            count(when(col("text").isNull || length(col("text")) === 0, 1)))
            .as("r")).select(col("r"))
        o.unionAll(fk).unionAll(li).unionAll(ev).unionAll(doc)
          .select(col("r.rule").as("rule"), col("r.n_violations").as("n_violations"),
            (col("r.n_violations") === 0).as("pass"))
      }
    },

    // ---- W25: period-over-period (MoM) metric deltas ----------------------
    // Monthly revenue per priority with previous-month value and percent
    // change — the report staple. Revenue sums are DECIMAL (exact); the
    // pct is one double division on already-exact values. The lag is
    // calendar-aware: joined on the PREVIOUS CALENDAR MONTH, not the
    // previous row, so a month with zero orders breaks the chain (a
    // lag() over present rows would silently compare across the gap).
    // Plan: one hash aggregate + a self-join on (prio, month-1) — both
    // sides the same small aggregate, localCheckpointed once.
    Query("w25_period_over_period",
      """WITH m AS (
        |  SELECT o_orderpriority AS prio, date_trunc('month', o_orderdate) AS month,
        |         sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
        |  FROM orders GROUP BY 1, 2)
        |SELECT c.prio, CAST(c.month AS TIMESTAMP) AS month,
        |       CAST(c.rev AS DOUBLE) AS rev,
        |       CAST(p.rev AS DOUBLE) AS prev_rev,
        |       round((CAST(c.rev AS DOUBLE) - CAST(p.rev AS DOUBLE))
        |             / CAST(p.rev AS DOUBLE), 6) AS mom_pct
        |FROM m c LEFT JOIN m p
        |  ON c.prio = p.prio AND p.month = c.month - INTERVAL 1 MONTH""".stripMargin) {
      (s, d) => {
        val m = Materialize.pin(Tables.orders(s, d)
          .groupBy(col("o_orderpriority").as("prio"),
            date_trunc("month", col("o_orderdate")).as("month"))
          .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev")))
        val p = m.select(col("prio").as("p_prio"), col("month").as("p_month"),
          col("rev").as("p_rev"))
        m.join(broadcast(p),
            col("prio") === col("p_prio") &&
              col("p_month") === add_months(col("month"), -1), "left")
          .select(col("prio"), col("month"), col("rev").cast("double").as("rev"),
            col("p_rev").cast("double").as("prev_rev"),
            round((col("rev").cast("double") - col("p_rev").cast("double"))
              / col("p_rev").cast("double"), 6).as("mom_pct"))
      }
    },

    // ---- R16: run-length encoding of ordered sequences --------------------
    // Per-user event-type journey compressed to runs ("view:3,click:1,
    // …") — the sequence-compression reshape sessions/journeys feed on.
    // Island derivation as in w22 but keyed on value changes (lag !=
    // current); ordering is total via (ts, event_id). One exchange on
    // user_id serves the lag window, the run grouping, and the final
    // string_agg.
    // ---- r17: nested-document encode/normalize round-trip --------------------
    // The semi-structured story beyond flat JSONL (io07): order
    // documents nested as {ok, items:[{ln, qty}...]} via to_json, then
    // normalized BACK to relational with an EXPLICIT from_json schema
    // (no inference scan) + explode — the ODK-repeat/API-payload shape.
    // Arrays are sort_array-ed before encode (collect_list order is
    // partition-dependent), and the oracle recomputes the per-order
    // facts straight from lineitem, so any encode/escape/parse/explode
    // defect breaks the hash, not just row counts.
    Query("r17_nested_roundtrip",
      """SELECT l_orderkey AS ok, count(*) AS n_items,
        |       CAST(sum(l_linenumber) AS BIGINT) AS ln_digest,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY 1""".stripMargin) {
      (s, d) => {
        // fanned by the GROUP key (§2.5): collect_list partials don't
        // shrink, so the exchange moves the same bytes either way, the
        // same-key groupBy reuses the partitioning (no second exchange),
        // and the JSON encode runs parallel instead of single-task
        val nested = graft.core.Par.fanOut(
            Tables.lineitem(s, d)
              .select("l_orderkey", "l_linenumber", "l_quantity"),
            col("l_orderkey"))
          .groupBy("l_orderkey")
          .agg(to_json(struct(col("l_orderkey").as("ok"),
            sort_array(collect_list(struct(col("l_linenumber").as("ln"),
              col("l_quantity").as("qty")))).as("items"))).as("doc"))
        nested.select(from_json(col("doc"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "ok LONG, items ARRAY<STRUCT<ln: INT, qty: DOUBLE>>")).as("j"))
          .select(col("j.ok").as("ok"), explode(col("j.items")).as("it"))
          .groupBy("ok")
          .agg(count(lit(1)).as("n_items"),
            sum(col("it.ln")).cast("long").as("ln_digest"),
            sum(col("it.qty").cast("decimal(18,4)")).cast("double").as("qty"))
      }
    },

    Query("r16_runlength",
      """WITH o AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |r AS (SELECT user_id, event_type,
        |             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                            ROWS UNBOUNDED PRECEDING) AS run_id,
        |             ts, event_id
        |      FROM o),
        |g AS (SELECT user_id, run_id, event_type, count(*) AS len,
        |             min(ts) AS run_start
        |      FROM r GROUP BY 1, 2, 3)
        |SELECT user_id,
        |       string_agg(event_type || ':' || CAST(len AS VARCHAR), ','
        |                  ORDER BY run_id) AS runs,
        |       CAST(count(*) AS BIGINT) AS n_runs
        |FROM g GROUP BY user_id""".stripMargin) {
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val wc = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val r = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
          .withColumn("brk",
            when(not(lag(col("event_type"), 1).over(w) <=> col("event_type")), 1)
              .otherwise(0))
          .withColumn("run_id", sum(col("brk")).over(wc))
        r.groupBy("user_id", "run_id", "event_type")
          .agg(count(lit(1)).as("len"))
          .groupBy("user_id")
          .agg(concat_ws(",",
            array_sort(collect_list(struct(col("run_id"),
              concat(col("event_type"), lit(":"), col("len")).as("s"))))
              .getField("s")).as("runs"),
            count(lit(1)).cast("long").as("n_runs"))
      }
    },

    // ---- W26: rolling z-score outlier bands -------------------------------
    // Streaming-style anomaly bands in batch: each event scored against
    // the trailing 6-hour window of its OWN type — z = (x - mean)/sd
    // from EXACT windowed moments (decimal sum + sum-of-squares, the
    // w16 discipline extended to the second moment), so the flag is
    // partition-order stable. Output: the flagged outliers only. sd = 0
    // windows (constant values) and n < 12 windows never flag. (The
    // window is 6 h because event density is a few rows/type/hour at
    // test SFs — a 30-min window never reaches n = 12 — and Spark
    // evaluates sliding RANGE frames by re-aggregating per row, so
    // frame size is a direct cost multiplier: 24 h measured 12.5 s at
    // sf0.1, 6 h ~3 s, same flags semantics.)
    // DEFAULT = the two-level hour-bucket decomposition (RollingMoments,
    // round-9 flip of the round-8 SPARK_GRAFT_BUCKETED_MOMENTS flag) —
    // exact same results (RollingMomentsSpec pins equivalence incl.
    // frame-edge ties), cost independent of frame density: 7.4 s vs
    // 17.5 s for the RANGE form at 10x density (Spark re-aggregates a
    // sliding RANGE frame per row, so frame size is a direct cost
    // multiplier). The RANGE form stays in the gate as the w31 twin
    // below, under this same oracle.
    Query("w26_rolling_zscore", RollingZscoreOracleSql) {
      (s, d) => rollingZscore(s, d, bucketed = true)
    },

    // ---- W31: rolling z-score RANGE-frame oracle twin ----------------------
    // The straightforward per-row sliding-RANGE formulation of w26, kept
    // in the gate under the same oracle: if the two-level decomposition
    // ever diverged from the definitional frame algebra, exactly one of
    // the two rows would hash-mismatch.
    Query("w31_rolling_zscore_range", RollingZscoreOracleSql) {
      (s, d) => rollingZscore(s, d, bucketed = false)
    },

    // ---- W27: time-weighted average (TWAP) --------------------------------
    // Metrics pipelines can't average sensor/price samples row-wise —
    // irregular arrival means each value must be weighted by how long
    // it was current. Per (type, day): value integrated over the
    // segment to the next event of the same type-day, TWAP =
    // sum(value * dt) / sum(dt). EXACT arithmetic: dt is integer µs,
    // value scales to DECIMAL(18,4); the one double division is the
    // epilogue. Last event of each day contributes no segment (no
    // successor — open-ended weight is undefined), segments never
    // cross days. One exchange: the lead window and the (type, day)
    // aggregate share the partitioning.
    Query("w27_twap",
      """WITH seg AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(value AS DECIMAL(18,4)) AS v,
        |         lead(epoch_us(ts)) OVER (PARTITION BY event_type, CAST(ts AS DATE)
        |                                  ORDER BY ts, event_id)
        |           - epoch_us(ts) AS dt
        |  FROM events)
        |SELECT event_type, CAST(day AS TIMESTAMP) AS day,
        |       CAST(count(dt) AS BIGINT) AS n_segments,
        |       CAST(sum(dt) AS BIGINT) AS covered_us,
        |       round(CAST(sum(v * dt) AS DOUBLE) / CAST(sum(dt) AS DOUBLE), 6) AS twap
        |FROM seg WHERE dt IS NOT NULL
        |GROUP BY 1, 2""".stripMargin) {
      (s, d) => {
        val w = Window.partitionBy(col("event_type"), to_date(col("ts")))
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, d).select(col("event_type"),
            to_date(col("ts")).as("day"),
            col("value").cast("decimal(18,4)").as("v"),
            (lead(unix_micros(col("ts")), 1).over(w) - unix_micros(col("ts")))
              .as("dt"))
          .filter(col("dt").isNotNull)
          .groupBy(col("event_type"), col("day"))
          .agg(count(col("dt")).cast("long").as("n_segments"),
            sum(col("dt")).cast("long").as("covered_us"),
            round(sum(col("v") * col("dt")).cast("double")
              / sum(col("dt")).cast("double"), 6).as("twap"))
          .select(col("event_type"), col("day").cast("timestamp").as("day"),
            col("n_segments"), col("covered_us"), col("twap"))
      }
    },

    // ---- J21: overlapping-interval merge (interval union) -----------------
    // Coalesce each customer's order-activity windows (start = order
    // date, end = start + orderkey%20 days) into maximal disjoint
    // intervals — the islands derivation on RANGES: an interval starts
    // a new island when its start exceeds the running max end of
    // everything before it. Two windows + two aggregates, all
    // partitioned on the same key — one exchange, per-key state only.
    Query("j21_interval_merge",
      """WITH iv AS (
        |  SELECT o_custkey AS k,
        |         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS s,
        |         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |           + o_orderkey % 20 AS e
        |  FROM orders),
        |m AS (
        |  SELECT k, s, e,
        |         max(e) OVER (PARTITION BY k ORDER BY s, e
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS prev_max
        |  FROM iv),
        |fl AS (SELECT k, s, e,
        |              CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END AS brk
        |       FROM m),
        |isl AS (SELECT k, s, e,
        |               sum(brk) OVER (PARTITION BY k ORDER BY s, e
        |                              ROWS UNBOUNDED PRECEDING) AS island
        |        FROM fl),
        |mg AS (SELECT k, island, min(s) AS ms, max(e) AS me
        |       FROM isl GROUP BY 1, 2)
        |SELECT k AS o_custkey, CAST(count(*) AS BIGINT) AS n_intervals,
        |       CAST(sum(me - ms + 1) AS BIGINT) AS covered_days,
        |       CAST(max(me) AS BIGINT) AS last_day
        |FROM mg GROUP BY k""".stripMargin) {
      (s, d) => {
        val day = datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long")
        val iv = Tables.orders(s, d).select(col("o_custkey").as("k"),
          day.as("s"), (day + col("o_orderkey") % 20).as("e"))
        val wPrev = Window.partitionBy("k").orderBy(col("s"), col("e"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wRun = Window.partitionBy("k").orderBy(col("s"), col("e"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        iv.withColumn("prev_max", max(col("e")).over(wPrev))
          .withColumn("brk",
            when(col("prev_max").isNull || col("s") > col("prev_max"), 1).otherwise(0))
          .withColumn("island", sum(col("brk")).over(wRun))
          .groupBy("k", "island")
          .agg(min(col("s")).as("ms"), max(col("e")).as("me"))
          .groupBy(col("k").as("o_custkey"))
          .agg(count(lit(1)).cast("long").as("n_intervals"),
            sum(col("me") - col("ms") + 1).cast("long").as("covered_days"),
            max(col("me")).cast("long").as("last_day"))
      }
    },

    // ---- A31: weighted median per group -----------------------------------
    // Median order size weighted by revenue — "the quantity at which
    // half the money sits below" — per return flag. Lower weighted
    // median: the first value (ascending) whose running weight reaches
    // half the total; weights are exact DECIMALs, the comparison is
    // decimal-vs-decimal (2*cum >= tot avoids the half-division), so
    // the pick is exact — no interpolation, no float compare.
    Query("a31_weighted_median",
      """WITH b AS (
        |  SELECT l_returnflag AS flag, l_quantity AS q,
        |         CAST(l_extendedprice AS DECIMAL(18,4)) AS wt
        |  FROM lineitem),
        |g AS (SELECT flag, q, sum(wt) AS w FROM b GROUP BY 1, 2),
        |c AS (SELECT flag, q, w,
        |             sum(w) OVER (PARTITION BY flag ORDER BY q NULLS LAST
        |                          ROWS UNBOUNDED PRECEDING) AS cum,
        |             sum(w) OVER (PARTITION BY flag) AS tot
        |      FROM g)
        |SELECT flag, CAST(min(q) AS DOUBLE) AS weighted_median
        |FROM c WHERE 2 * cum >= tot
        |GROUP BY flag""".stripMargin) {
      (s, d) => {
        val g = Tables.lineitem(s, d)
          .select(col("l_returnflag").as("flag"), col("l_quantity").as("q"),
            col("l_extendedprice").cast("decimal(18,4)").as("wt"))
          .groupBy("flag", "q").agg(sum(col("wt")).as("w"))
        val wc = Window.partitionBy("flag").orderBy(col("q").asc_nulls_last)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wt = Window.partitionBy("flag")
        g.select(col("flag"), col("q"),
            sum(col("w")).over(wc).as("cum"), sum(col("w")).over(wt).as("tot"))
          .filter(col("cum") * 2 >= col("tot"))
          .groupBy("flag")
          .agg(min(col("q")).cast("double").as("weighted_median"))
      }
    },

    // ---- A32: Welch's t-test per group -------------------------------------
    // The significance arm of the drift kit (a30 PSI = magnitude, w24
    // KS = shape, a32 = is-the-mean-shift real): Welch's unequal-
    // variance t between even- and odd-day slices per event type. The
    // five sufficient statistics per slice are exact (counts + DECIMAL
    // value and value^2 sums); t and the Welch-Satterthwaite dof are a
    // fixed-order double epilogue, so results are partition-stable.
    Query("a32_welch_ttest",
      """WITH b AS (
        |  SELECT event_type,
        |         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 2 AS slice,
        |         CAST(value AS DECIMAL(18,4)) AS v
        |  FROM events),
        |s AS (
        |  SELECT event_type,
        |         sum(CASE WHEN slice = 0 THEN 1 ELSE 0 END) AS na,
        |         sum(CASE WHEN slice = 1 THEN 1 ELSE 0 END) AS nb,
        |         sum(CASE WHEN slice = 0 THEN v END) AS sa,
        |         sum(CASE WHEN slice = 1 THEN v END) AS sb,
        |         sum(CASE WHEN slice = 0 THEN v * v END) AS qa,
        |         sum(CASE WHEN slice = 1 THEN v * v END) AS qb
        |  FROM b GROUP BY 1),
        |z AS (
        |  SELECT event_type, na, nb,
        |         CAST(sa AS DOUBLE) / na AS ma, CAST(sb AS DOUBLE) / nb AS mb,
        |         (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / na)
        |           / (na - 1) / na AS ea,
        |         (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / nb)
        |           / (nb - 1) / nb AS eb
        |  FROM s)
        |SELECT event_type, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
        |       round((ma - mb) / sqrt(ea + eb), 6) AS t_stat,
        |       round((ea + eb) * (ea + eb)
        |             / (ea * ea / (na - 1) + eb * eb / (nb - 1)), 6) AS welch_dof
        |FROM z""".stripMargin) {
      (s, d) => {
        val v = col("value").cast("decimal(18,4)")
        val slice = datediff(to_date(col("ts")), lit("1970-01-01")) % 2
        val agg = Tables.events(s, d)
          .select(col("event_type"), slice.as("slice"), v.as("v"))
          .groupBy("event_type")
          .agg(sum(when(col("slice") === 0, 1L).otherwise(0L)).as("na"),
            sum(when(col("slice") === 1, 1L).otherwise(0L)).as("nb"),
            sum(when(col("slice") === 0, col("v"))).as("sa"),
            sum(when(col("slice") === 1, col("v"))).as("sb"),
            sum(when(col("slice") === 0, col("v") * col("v"))).as("qa"),
            sum(when(col("slice") === 1, col("v") * col("v"))).as("qb"))
        val ma = col("sa").cast("double") / col("na")
        val mb = col("sb").cast("double") / col("nb")
        val ea = (col("qa").cast("double")
          - col("sa").cast("double") * col("sa").cast("double") / col("na")) /
          (col("na") - 1) / col("na")
        val eb = (col("qb").cast("double")
          - col("sb").cast("double") * col("sb").cast("double") / col("nb")) /
          (col("nb") - 1) / col("nb")
        agg.select(col("event_type"),
          col("na").cast("long").as("na"), col("nb").cast("long").as("nb"),
          round((ma - mb) / sqrt(ea + eb), 6).as("t_stat"),
          round((ea + eb) * (ea + eb)
            / (ea * ea / (col("na") - 1) + eb * eb / (col("nb") - 1)), 6)
            .as("welch_dof"))
      }
    },

    // ---- A33: seasonal baseline + residual anomalies ----------------------
    // Weekday seasonality handled the way monitoring systems do it:
    // the expected value is the per-(type, day-of-week) mean, and
    // anomalies are residuals against THAT baseline — a Monday spike
    // is judged against Mondays. Exact decimal sums feed both the
    // baseline and the residual spread; output is the per-(type, dow)
    // baseline table with its residual variance — the compact model a
    // scorer broadcasts. One exchange.
    Query("a33_seasonal_baseline",
      """WITH b AS (
        |  SELECT event_type, dayofweek(CAST(ts AS DATE)) AS dow,
        |         CAST(value AS DECIMAL(18,4)) AS v
        |  FROM events),
        |s AS (SELECT event_type, dow, count(*) AS n, sum(v) AS sv,
        |             sum(v * v) AS sq
        |      FROM b GROUP BY 1, 2)
        |SELECT event_type, CAST(dow AS BIGINT) AS dow, CAST(n AS BIGINT) AS n,
        |       round(CAST(sv AS DOUBLE) / n, 6) AS baseline,
        |       round((CAST(sq AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n)
        |             / (n - 1), 6) AS resid_var
        |FROM s""".stripMargin) {
      (s, d) => {
        // dayofweek numbering differs across engines (the t09 shim's
        // lesson): DuckDB dayofweek(DATE) is 0=Sunday..6, Spark's is
        // 1=Sunday..7 — subtract 1 here to match the oracle's numbering
        val v = col("value").cast("decimal(18,4)")
        val agg = Tables.events(s, d)
          .select(col("event_type"),
            (dayofweek(to_date(col("ts"))) - 1).as("dow"), v.as("v"))
          .groupBy("event_type", "dow")
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
            sum(col("v") * col("v")).as("sq"))
        agg.select(col("event_type"), col("dow").cast("long").as("dow"),
          col("n").cast("long").as("n"),
          round(col("sv").cast("double") / col("n"), 6).as("baseline"),
          round((col("sq").cast("double")
            - col("sv").cast("double") * col("sv").cast("double") / col("n"))
            / (col("n") - 1), 6).as("resid_var"))
      }
    },

    // ---- W28: full rank-function family ------------------------------------
    // rank / dense_rank / percent_rank / cume_dist over one ordering in
    // one window pass — the remaining ordered-analytics surface in a
    // single row (row_number and ntile are pinned elsewhere). Ordering
    // is total (price, orderkey), so every function is deterministic.
    Query("w28_rank_functions",
      """SELECT o_orderkey,
        |       CAST(rank() OVER w AS BIGINT) AS rnk,
        |       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |       round(percent_rank() OVER w, 6) AS prnk,
        |       round(cume_dist() OVER w, 6) AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)""".stripMargin) {
      (s, d) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables.orders(s, d).select(col("o_orderkey"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          round(percent_rank().over(w), 6).as("prnk"),
          round(cume_dist().over(w), 6).as("cdist"))
      }
    },

    // ---- G16: A/B experiment readout ---------------------------------------
    // The end-to-end experiment table: users hash-split into arms
    // (deterministic md5 coin, the t11 technique), per-arm conversion
    // rate (purchase events / users) with a Wald 95% CI (r11's rounded
    // libm discipline) and the two-proportion z statistic between
    // arms — the composite a launch decision reads. All counts exact;
    // doubles only in the fixed-order epilogue.
    Query("g16_ab_readout",
      """WITH u AS (
        |  SELECT DISTINCT user_id,
        |         CASE WHEN substring(md5(CAST(user_id AS VARCHAR) || 'exp1'), 1, 1)
        |                   < '8' THEN 'A' ELSE 'B' END AS arm
        |  FROM events),
        |conv AS (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
        |s AS (
        |  SELECT arm, count(*) AS n,
        |         count(CASE WHEN c.user_id IS NOT NULL THEN 1 END) AS conv
        |  FROM u LEFT JOIN conv c USING (user_id)
        |  GROUP BY 1)
        |SELECT arm, CAST(n AS BIGINT) AS n_users, CAST(conv AS BIGINT) AS n_converted,
        |       round(CAST(conv AS DOUBLE) / n, 6) AS rate,
        |       round(CAST(conv AS DOUBLE) / n - 1.959964
        |             * sqrt(CAST(conv AS DOUBLE) / n * (1 - CAST(conv AS DOUBLE) / n) / n),
        |             6) AS ci_lo,
        |       round(CAST(conv AS DOUBLE) / n + 1.959964
        |             * sqrt(CAST(conv AS DOUBLE) / n * (1 - CAST(conv AS DOUBLE) / n) / n),
        |             6) AS ci_hi
        |FROM s""".stripMargin) {
      (s, d) => {
        val ev = Tables.events(s, d)
        val u = ev.select(col("user_id")).distinct()
          .withColumn("arm",
            when(substring(md5(concat(col("user_id").cast("string"), lit("exp1"))),
              1, 1) < "8", "A").otherwise("B"))
        val conv = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("cu")).distinct()
        val st = u.join(conv, col("user_id") === col("cu"), "left")
          .groupBy("arm")
          .agg(count(lit(1)).as("n"),
            count(when(col("cu").isNotNull, 1)).as("conv"))
        val rate = col("conv").cast("double") / col("n")
        val half = lit(1.959964) * sqrt(rate * (lit(1) - rate) / col("n"))
        st.select(col("arm"), col("n").cast("long").as("n_users"),
          col("conv").cast("long").as("n_converted"),
          round(rate, 6).as("rate"),
          round(rate - half, 6).as("ci_lo"),
          round(rate + half, 6).as("ci_hi"))
      }
    },

    // ---- A34: Mann-Whitney U (rank-sum) test per group ---------------------
    // The nonparametric mean-shift test (closes the drift kit next to
    // a32's t: no normality assumption). Average ranks for ties are
    // kept EXACT by working in doubled-rank units (first + last of the
    // tie run — always an integer), so U2 = 2U is an exact integer,
    // and the tie-corrected normal approximation is the usual double
    // epilogue over exact tie-group sums. Same (type, value) aggregate
    // + type-window shape as w24 — the whole drift kit shares one
    // physical pattern.
    Query("a34_mann_whitney",
      s"""WITH ${OracleSnippets.SliceValueCountCtes},
        |c AS (SELECT event_type, da, db, da + db AS t,
        |             sum(da + db) OVER (PARTITION BY event_type ORDER BY value NULLS LAST
        |                                ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM g),
        |s AS (SELECT event_type,
        |             sum(da) AS na, sum(db) AS nb,
        |             sum(da * (2 * cum - t + 1)) AS r2a,
        |             sum(t * t * t - t) AS ties
        |      FROM c GROUP BY 1)
        |SELECT event_type, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
        |       CAST(r2a - na * (na + 1) AS BIGINT) AS u2,
        |       round((CAST(r2a - na * (na + 1) AS DOUBLE) / 2 - CAST(na * nb AS DOUBLE) / 2)
        |             / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12
        |                    * ((na + nb + 1)
        |                       - CAST(ties AS DOUBLE)
        |                         / ((na + nb) * (na + nb - 1.0)))), 6) AS z
        |FROM s""".stripMargin) {
      (s, d) => {
        val g = sliceValueCounts(s, d)
        val w = valueRunning
        val c = g.select(col("event_type"), col("da"), col("db"),
          (col("da") + col("db")).as("t"),
          sum(col("da") + col("db")).over(w).as("cum"))
        val st = c.groupBy("event_type").agg(
          sum(col("da")).as("na"), sum(col("db")).as("nb"),
          sum(col("da") * (lit(2) * col("cum") - col("t") + 1)).as("r2a"),
          sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
        val u2 = (col("r2a") - col("na") * (col("na") + 1)).cast("double")
        val z = (u2 / 2 - (col("na") * col("nb")).cast("double") / 2) /
          sqrt(col("na").cast("double") * col("nb").cast("double") / 12 *
            ((col("na") + col("nb") + 1) -
              col("ties").cast("double") /
                ((col("na") + col("nb")) * (col("na") + col("nb") - 1.0))))
        st.select(col("event_type"),
          col("na").cast("long").as("na"), col("nb").cast("long").as("nb"),
          (col("r2a") - col("na") * (col("na") + 1)).cast("long").as("u2"),
          round(z, 6).as("z"))
      }
    },

    // ---- J22: numeric band join (|a - b| <= delta, no nested loop) ---------
    // Pairs of events whose values are within 0.05 of each other across
    // DIFFERENT event types — the similarity-band join that naively
    // plans as a BroadcastNestedLoop. Bucketize at the band width: the
    // left row keeps its own bucket, the right row replicates to
    // {b-1, b, b+1}, and the equi-join on bucket finds every qualifying
    // pair exactly once (the right appears once per target bucket) —
    // 3x replication instead of O(n^2), AQE-splittable. Exact-count
    // output per type pair. The band is integer end-to-end (ADVICE r7):
    // values quantize once to 1e-4 micro-units (exact in double up to
    // 2^53), the bucket is floor(units/500) and the predicate is
    // |u_l - u_r| <= 500 — so "every qualifying pair exactly once" is
    // exactly true (a 500-unit gap spans at most one bucket boundary),
    // with no FP boundary case where floor(value/0.05) could land a
    // true pair two buckets apart. Band width is sized to data density:
    // the qualifying-pair mass is inherently n * (rows within
    // +/-delta), so delta picks the output scale, not the plan (0.5
    // produced ~20M pairs at sf0.1 = 15 s of pure pair counting).
    // ---- a35: chi-square test of independence ------------------------------
    // The categorical-association member the stats battery lacked
    // (Welch/MWU compare numeric groups, KS/PSI compare distributions
    // of ONE variable): are two categorical columns independent? Grid =
    // all r x c cells (zero-observed cells INCLUDED — chi-square sums
    // over the full grid), expected = row_total * col_total / N from
    // exact integer margins (products < 2^53, so the doubles are
    // exact), per-cell term (o-e)^2/e written as (o-e)*(o-e) — never
    // pow(), whose libm rounding is not pinned — rounded to 6dp DECIMAL
    // and summed exactly (the a30/a32 recipe: order-independent sum).
    // One scan for cells; margins derive from the cell aggregate, not
    // re-scans.
    Query("a35_chi_square",
      """WITH obs AS (
        |  SELECT o_orderpriority AS p, o_orderstatus AS s, count(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |rt AS (SELECT p, sum(n) AS rn FROM obs GROUP BY 1),
        |ct AS (SELECT s, sum(n) AS cn FROM obs GROUP BY 1),
        |tot AS (SELECT sum(n) AS nn FROM obs),
        |grid AS (
        |  SELECT rt.p, ct.s, rt.rn, ct.cn, coalesce(o.n, 0) AS n
        |  FROM rt CROSS JOIN ct
        |  LEFT JOIN obs o ON o.p = rt.p AND o.s = ct.s),
        |terms AS (
        |  SELECT CAST(round(
        |           (n - rn * cn * 1.0 / nn) * (n - rn * cn * 1.0 / nn)
        |             / (rn * cn * 1.0 / nn), 6) AS DECIMAL(18,6)) AS term
        |  FROM grid, tot)
        |SELECT CAST(sum(term) AS DOUBLE) AS chi2,
        |       CAST(((SELECT count(*) FROM rt) - 1)
        |            * ((SELECT count(*) FROM ct) - 1) AS BIGINT) AS dof,
        |       (SELECT CAST(nn AS BIGINT) FROM tot) AS n
        |FROM terms""".stripMargin) {
      (s, d) => {
        // margins + grid all derive from this one agg; priority x status
        val obs = Materialize.small(Tables.orders(s, d)
          .groupBy(col("o_orderpriority").as("p"), col("o_orderstatus").as("st"))
          .agg(count(lit(1)).as("n")))
        val rt = obs.groupBy("p").agg(sum("n").as("rn"))
        val ct = obs.groupBy("st").agg(sum("n").as("cn"))
        val tot = obs.agg(sum("n").as("nn"))
        val e = col("rn") * col("cn") * lit(1.0) / col("nn")
        val o = coalesce(col("n"), lit(0L))
        val grid = rt.crossJoin(broadcast(ct)).crossJoin(broadcast(tot))
          .join(obs.select(col("p").as("op"), col("st").as("ost"), col("n")),
            col("p") === col("op") && col("st") === col("ost"), "left")
        val terms = grid.select(
          round((o - e) * (o - e) / e, 6).cast("decimal(18,6)").as("term"))
        val rdof = rt.agg(count(lit(1)).as("r"))
        val cdof = ct.agg(count(lit(1)).as("c"))
        terms.agg(sum("term").cast("double").as("chi2"))
          .crossJoin(broadcast(rdof)).crossJoin(broadcast(cdof))
          .crossJoin(broadcast(tot))
          .select(col("chi2"),
            ((col("r") - 1) * (col("c") - 1)).cast("long").as("dof"),
            col("nn").cast("long").as("n"))
      }
    },

    Query("j22_band_join",
      """WITH l AS (
        |  SELECT event_id, event_type,
        |         CAST(round(value * 10000) AS BIGINT) AS u,
        |         CAST(floor(CAST(round(value * 10000) AS BIGINT) / 500.0) AS BIGINT) AS bkt
        |  FROM events),
        |r AS (
        |  SELECT event_id, event_type, u, bkt + d.d AS bkt
        |  FROM l, (SELECT unnest([-1, 0, 1]) AS d) d),
        |p AS (
        |  SELECT l.event_type AS type_a, r.event_type AS type_b
        |  FROM l JOIN r ON l.bkt = r.bkt
        |    AND l.event_type < r.event_type
        |    AND abs(l.u - r.u) <= 500)
        |SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM p GROUP BY 1, 2""".stripMargin) {
      (s, d) => {
        val u = round(col("value") * 10000).cast("long")
        // fanned (§2.5): the bucket join's pair blow-up + band filter is
        // the heavy map side — single-task on a one-row-group input
        val base = graft.core.Par.fanOut(
          Tables.events(s, d).select(col("event_id"), col("event_type"),
            u.as("u"), floor(u / 500.0).cast("long").as("bkt")),
          col("event_id"))
        val l = base
        val r = base.select(col("event_id").as("r_id"), col("event_type").as("r_type"),
            col("u").as("r_u"),
            explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("bkt"))
        // type inequality alone orients each cross-type pair uniquely;
        // an additional id ordering would DROP pairs where the two
        // orderings disagree
        l.join(r, Seq("bkt"))
          .filter(col("event_type") < col("r_type") &&
            abs(col("u") - col("r_u")) <= 500)
          .groupBy(col("event_type").as("type_a"), col("r_type").as("type_b"))
          .agg(count(lit(1)).cast("long").as("n_pairs"))
      }
    },

    // ---- G13: degree-oriented triangle count ------------------------------
    // Triangles in the supplier co-purchase graph (suppliers sharing an
    // order). The raw co-purchase graph is near-complete, so edges are
    // hash-sparsified to ~1/16 with the dialect-shared md5 family —
    // deterministic in both engines, and an honest stand-in for a blocked
    // similarity graph. The count uses degree orientation (edges point
    // from lower (deg, node) to higher): every triangle then has exactly
    // one node with two out-edges, so wedge join + closing-edge semi-join
    // counts each triangle once, and max out-degree is O(sqrt(m)) no
    // matter how skewed the raw degrees — the standard bound that keeps
    // the wedge join from exploding on hub nodes at 100 TB.
    // ---- G30: community modularity score ---------------------------------------
    // The quality metric that closes the community loop (g21 LPA
    // assigns labels; this SCORES a partition): per community c,
    // term_c = e_c/m - (d_c/2m)^2 — Newman modularity's summand — over
    // the g13 co-purchase edge set with the deterministic node%8
    // partition (fixed labels keep the oracle exact; scoring LPA's own
    // labels would need its 3 rounds replayed). Emitting PER-COMMUNITY
    // rows sidesteps any cross-row double sum: every term is one
    // fixed-order expression over exact integers (e_c, d_c, m). The
    // only data-sized work is the one distinct pair join all g-rows
    // share; everything after is community-cardinality.
    Query("g30_modularity",
      s"""WITH ${OracleSnippets.coSupplierEdgeCtes("g13")},
        |m AS (SELECT count(*) AS m FROM e),
        |ein AS (SELECT x % 8 AS c, count(*) AS e_in
        |        FROM e WHERE x % 8 = y % 8 GROUP BY 1),
        |deg AS (SELECT node % 8 AS c, count(*) AS d_sum FROM (
        |          SELECT x AS node FROM e UNION ALL SELECT y FROM e)
        |        GROUP BY 1)
        |SELECT deg.c AS community,
        |       CAST(coalesce(e_in, 0) AS BIGINT) AS e_in,
        |       CAST(d_sum AS BIGINT) AS d_sum, CAST(m AS BIGINT) AS m,
        |       round(CAST(coalesce(e_in, 0) AS DOUBLE) / m
        |             - (CAST(d_sum AS DOUBLE) / (2.0 * m))
        |               * (CAST(d_sum AS DOUBLE) / (2.0 * m)), 9) AS term
        |FROM deg LEFT JOIN ein ON deg.c = ein.c CROSS JOIN m""".stripMargin) {
      (s, d) => {
        // m + within-edges + both degree legs share it
        val e = Materialize.pin(coSupplierEdges(s, d, "g13"))
        val m = e.agg(count(lit(1)).as("m"))
        val ein = e.filter(col("x") % 8 === col("y") % 8)
          .groupBy((col("x") % 8).as("c")).agg(count(lit(1)).as("e_in"))
        val deg = e.select(col("x").as("node")).unionAll(e.select(col("y")))
          .groupBy((col("node") % 8).as("c")).agg(count(lit(1)).as("d_sum"))
        val dd = col("d_sum").cast("double") / (lit(2.0) * col("m"))
        deg.join(ein, Seq("c"), "left").crossJoin(broadcast(m))
          .select(col("c").as("community"),
            coalesce(col("e_in"), lit(0L)).cast("long").as("e_in"),
            col("d_sum").cast("long").as("d_sum"), col("m").cast("long").as("m"),
            round(coalesce(col("e_in"), lit(0L)).cast("double") / col("m")
              - dd * dd, 9).as("term"))
      }
    },

    Query("g13_triangle_count",
      s"""WITH ${OracleSnippets.coSupplierEdgeCtes("g13")},
        |${OracleSnippets.OrientedEdgeCtes},
        |wedge AS (
        |  SELECT a.dst AS v, b.dst AS w
        |  FROM de a JOIN de b ON a.src = b.src AND a.dst < b.dst)
        |SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |FROM wedge JOIN de ON (wedge.v = de.src AND wedge.w = de.dst)
        |                   OR (wedge.w = de.src AND wedge.v = de.dst)""".stripMargin) {
      (s, d) => {
        // e is referenced 3x (edges, both degree legs) and de 2x (wedge
        // legs + closing): localCheckpoint both (the g10 pattern) or
        // every reference re-executes the whole distinct-pair join —
        // the plan balloons to 47 exchanges without these two cuts
        val e = Materialize.pin(coSupplierEdges(s, d, "g13"))
        val deg = edgeDegrees(e)
        val de = degreeOriented(e, deg)
        val wedge = de.toDF("s1", "v")
          .join(de.toDF("s2", "w"), col("s1") === col("s2") && col("v") < col("w"))
          .select("v", "w")
        // closing edge: orientation direction between v and w is unknown
        // (rank order, not value order) — probe both with one join on the
        // canonical (min, max) key instead of an OR-join (OR disables
        // the equi-join planner in Spark).
        val closing = de.select(
          least(col("src"), col("dst")).as("cv"), greatest(col("src"), col("dst")).as("cw"))
        wedge.join(closing, col("v") === col("cv") && col("w") === col("cw"))
          .agg(count(lit(1)).cast("long").as("n_triangles"))
      }
    },

    // ---- A36: Benford first-digit drift ------------------------------------
    // Fraud/synthesis detector the battery lacked: does the leading
    // significant digit of order totals follow Benford's law? Digits are
    // extracted in EXACT integer space (prices quantize to cents as
    // BIGINT; the first digit is the first character of the integer's
    // decimal rendering — no log10 on doubles, whose libm rounding at
    // power-of-ten boundaries is not pinned cross-engine). The nine
    // Benford probabilities are embedded as 6 dp literals (they sum to
    // exactly 1.000000) rather than computed via log10 — both engines
    // parse the same decimal string to the same double. Per-digit
    // |observed - expected| terms round to 6 dp DECIMAL and sum exactly
    // (the a30/a35 recipe); MAD = that sum / 9. A zero-count digit
    // still contributes its full expected mass via the broadcast
    // digit spine. One scan; every join side after the count is O(9).
    Query("a36_benford",
      """WITH u AS (
        |  SELECT o_orderpriority AS p,
        |         CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |                             AS VARCHAR), 1, 1) AS BIGINT) AS dg
        |  FROM orders),
        |obs AS (SELECT p, dg, count(*) AS n FROM u GROUP BY 1, 2),
        |tot AS (SELECT p, sum(n) AS tn FROM obs GROUP BY 1),
        |ben AS (
        |  SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9]) AS bd,
        |         unnest(CAST([0.301030, 0.176091, 0.124939, 0.096910, 0.079181,
        |                      0.066947, 0.057992, 0.051153, 0.045757]
        |                AS DOUBLE[])) AS pb),
        |grid AS (
        |  SELECT tot.p, tot.tn, ben.pb, coalesce(obs.n, 0) AS n
        |  FROM tot CROSS JOIN ben
        |  LEFT JOIN obs ON obs.p = tot.p AND obs.dg = ben.bd),
        |terms AS (
        |  SELECT p, tn,
        |         CAST(round(abs(n * 1.0 / tn - pb), 6) AS DECIMAL(18,6)) AS term
        |  FROM grid)
        |SELECT p AS o_orderpriority, CAST(max(tn) AS BIGINT) AS n_orders,
        |       CAST(CAST(sum(term) AS DOUBLE) / 9 AS DOUBLE) AS benford_mad
        |FROM terms GROUP BY 1""".stripMargin) {
      (s, d) => {
        val benfordP = Seq(0.301030, 0.176091, 0.124939, 0.096910, 0.079181,
          0.066947, 0.057992, 0.051153, 0.045757)
        val u = round(col("o_totalprice") * 100).cast("long")
        // tot + grid both derive from this one agg; priority x first digit
        val obs = Materialize.small(Tables.orders(s, d)
          .select(col("o_orderpriority").as("p"),
            substring(u.cast("string"), 1, 1).cast("long").as("dg"))
          .groupBy("p", "dg").agg(count(lit(1)).as("n")))
        val tot = obs.groupBy("p").agg(sum("n").as("tn"))
        val ben = obs.sparkSession.range(1).select(explode(array(
          benfordP.zipWithIndex.map { case (pb, i) =>
            struct(lit((i + 1).toLong).as("bd"), lit(pb).as("pb"))
          }: _*)).as("s")).select(col("s.bd").as("bd"), col("s.pb").as("pb"))
        val grid = tot.crossJoin(broadcast(ben))
          .join(obs.select(col("p").as("op"), col("dg"), col("n")),
            col("p") === col("op") && col("bd") === col("dg"), "left")
        val term = round(abs(coalesce(col("n"), lit(0L)) * lit(1.0) / col("tn")
          - col("pb")), 6).cast("decimal(18,6)")
        grid.select(col("p"), col("tn"), term.as("term"))
          .groupBy(col("p").as("o_orderpriority"))
          .agg(max("tn").cast("long").as("n_orders"),
            (sum("term").cast("double") / 9).as("benford_mad"))
      }
    },

    // ---- W33: Theil-Sen robust trend per key --------------------------------
    // a29's least-squares slope is hijacked by a single outlier day; the
    // Theil-Sen estimator (median of all pairwise slopes) has a 29.3%
    // breakdown point. Series = w32's per-type daily decimal sums (~n
    // days per key), pairs via an ORDERED self-join within the key —
    // O(n^2) per key by definition, which is the documented bound: the
    // operator targets per-entity series of bounded length (days,
    // weeks), not raw event streams; at 100 TB the daily pre-aggregate
    // IS the reduction (600k events -> 150 days here). Median without
    // interpolation ambiguity: rank by slope, keep rank (m+1)/2 and
    // (m+2)/2 (equal for odd m), avg — a 2-element fp mean is
    // order-immune, so no decimal routing is needed. Slope doubles are
    // single fixed-order ops on exact inputs (decimal-sum x, integer
    // day gaps).
    Query("w33_theil_sen",
      s"""WITH ${dailyTypeSumCte(xs => s"CAST($xs AS DOUBLE) AS x")},
        |p AS (
        |  SELECT a.event_type, (b.x - a.x) / (b.day - a.day) AS sl
        |  FROM d a JOIN d b
        |    ON a.event_type = b.event_type AND a.day < b.day),
        |r AS (
        |  SELECT event_type, sl,
        |         row_number() OVER (PARTITION BY event_type ORDER BY sl) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS m
        |  FROM p)
        |SELECT event_type, CAST(max(m) AS BIGINT) AS n_pairs,
        |       CAST(avg(sl) AS DOUBLE) AS ts_slope
        |FROM r WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2
        |GROUP BY 1""".stripMargin) {
      (s, d) => {
        // both self-join legs read this one agg; event type x day
        val daily = Materialize.small(Temporal.dailyTypeSums(s, d)(_.cast("double").as("x")))
        val pairs = daily.toDF("et", "di", "xi")
          .join(daily.toDF("et2", "dj", "xj"),
            col("et") === col("et2") && col("di") < col("dj"))
          .select(col("et").as("event_type"),
            ((col("xj") - col("xi")) / (col("dj") - col("di"))).as("sl"))
        val w = Window.partitionBy("event_type").orderBy("sl")
        val ranked = pairs
          .withColumn("rn", row_number().over(w))
          .withColumn("m", count(lit(1)).over(Window.partitionBy("event_type")))
        // Column `/` is double division: floor() recovers the integer
        // median ranks that DuckDB's `//` computes.
        ranked.filter(col("rn") === floor((col("m") + 1) / 2)
            || col("rn") === floor((col("m") + 2) / 2))
          .groupBy("event_type")
          .agg(max("m").cast("long").as("n_pairs"),
            avg("sl").cast("double").as("ts_slope"))
      }
    },

    // ---- G19: k-core decomposition (iterative peel) -------------------------
    // The cohesive-subgraph member the graph family (g10 pagerank, g13
    // triangles, s08 connected components) lacked: repeatedly peel
    // nodes of degree < k until the k-core remains. Same sparsified
    // supplier co-purchase graph as g13 (independent 'g19' salt), k=4,
    // FIXED 5 peel rounds so the oracle can unroll them as CTE stages
    // (the g10 precedent); the engine's early-convergence exit is
    // provably identity-equivalent (each round's edges are a subset of
    // the last). GraphsSpec pins that 5 rounds reach the fixed point
    // here, so the row IS the true 4-core.
    Query("g19_kcore",
      s"""WITH ${OracleSnippets.coSupplierEdgeCtes("g19", edges = "e0",
          as = "AS MATERIALIZED")},
        |d1 AS MATERIALIZED (SELECT node, count(*) AS dg FROM (
        |         SELECT x AS node FROM e0 UNION ALL SELECT y FROM e0) t GROUP BY 1),
        |k1 AS MATERIALIZED (SELECT node FROM d1 WHERE dg >= 4),
        |e1 AS MATERIALIZED (SELECT e.x, e.y FROM e0 e
        |       JOIN k1 a ON e.x = a.node JOIN k1 b ON e.y = b.node),
        |d2 AS MATERIALIZED (SELECT node, count(*) AS dg FROM (
        |         SELECT x AS node FROM e1 UNION ALL SELECT y FROM e1) t GROUP BY 1),
        |k2 AS MATERIALIZED (SELECT node FROM d2 WHERE dg >= 4),
        |e2 AS MATERIALIZED (SELECT e.x, e.y FROM e1 e
        |       JOIN k2 a ON e.x = a.node JOIN k2 b ON e.y = b.node),
        |d3 AS MATERIALIZED (SELECT node, count(*) AS dg FROM (
        |         SELECT x AS node FROM e2 UNION ALL SELECT y FROM e2) t GROUP BY 1),
        |k3 AS MATERIALIZED (SELECT node FROM d3 WHERE dg >= 4),
        |e3 AS MATERIALIZED (SELECT e.x, e.y FROM e2 e
        |       JOIN k3 a ON e.x = a.node JOIN k3 b ON e.y = b.node),
        |d4 AS MATERIALIZED (SELECT node, count(*) AS dg FROM (
        |         SELECT x AS node FROM e3 UNION ALL SELECT y FROM e3) t GROUP BY 1),
        |k4 AS MATERIALIZED (SELECT node FROM d4 WHERE dg >= 4),
        |e4 AS MATERIALIZED (SELECT e.x, e.y FROM e3 e
        |       JOIN k4 a ON e.x = a.node JOIN k4 b ON e.y = b.node),
        |d5 AS MATERIALIZED (SELECT node, count(*) AS dg FROM (
        |         SELECT x AS node FROM e4 UNION ALL SELECT y FROM e4) t GROUP BY 1),
        |k5 AS MATERIALIZED (SELECT node FROM d5 WHERE dg >= 4),
        |e5 AS MATERIALIZED (SELECT e.x, e.y FROM e4 e
        |       JOIN k5 a ON e.x = a.node JOIN k5 b ON e.y = b.node),
        |d6 AS MATERIALIZED (SELECT node, count(*) AS dg FROM (
        |         SELECT x AS node FROM e5 UNION ALL SELECT y FROM e5) t GROUP BY 1)
        |SELECT node, CAST(dg AS BIGINT) AS core_deg FROM d6""".stripMargin) {
      (s, d) => {
        val e = coSupplierEdges(s, d, "g19")
        graft.operators.Graphs.kCorePeel(e, k = 4L, rounds = 5)
      }
    },

    // ---- G21: label-propagation communities ---------------------------------
    // Community detection over the sparsified co-purchase graph ('g21'
    // salt): every node starts as its own label, then 3 synchronous
    // rounds of adopt-the-most-frequent-neighbour-label with smallest-
    // label tie-break (the deterministic LPA variant — a random tie
    // break can't face a cross-engine oracle). Fixed-round contract
    // (g10/g19/g20): the oracle unrolls 3 MATERIALIZED vote+argmax
    // stages; each engine round is one (node,label) count aggregate
    // plus a per-node argmax, both keyed on node id.
    Query("g21_label_prop",
      s"""WITH ${OracleSnippets.coSupplierEdgeCtes("g21", edges = "e0",
          as = "AS MATERIALIZED")},
        |bi AS MATERIALIZED (
        |  SELECT x AS s, y AS t FROM e0 UNION ALL SELECT y, x FROM e0),
        |l0 AS MATERIALIZED (SELECT DISTINCT s AS node, s AS label FROM bi),
        |v1 AS MATERIALIZED (
        |  SELECT bi.s, p.label, count(*) AS c
        |  FROM bi JOIN l0 p ON bi.t = p.node GROUP BY 1, 2),
        |l1 AS MATERIALIZED (
        |  SELECT s AS node, label FROM (
        |    SELECT s, label,
        |           row_number() OVER (PARTITION BY s ORDER BY c DESC, label) AS rn
        |    FROM v1) t WHERE rn = 1),
        |v2 AS MATERIALIZED (
        |  SELECT bi.s, p.label, count(*) AS c
        |  FROM bi JOIN l1 p ON bi.t = p.node GROUP BY 1, 2),
        |l2 AS MATERIALIZED (
        |  SELECT s AS node, label FROM (
        |    SELECT s, label,
        |           row_number() OVER (PARTITION BY s ORDER BY c DESC, label) AS rn
        |    FROM v2) t WHERE rn = 1),
        |v3 AS MATERIALIZED (
        |  SELECT bi.s, p.label, count(*) AS c
        |  FROM bi JOIN l2 p ON bi.t = p.node GROUP BY 1, 2),
        |l3 AS MATERIALIZED (
        |  SELECT s AS node, label FROM (
        |    SELECT s, label,
        |           row_number() OVER (PARTITION BY s ORDER BY c DESC, label) AS rn
        |    FROM v3) t WHERE rn = 1)
        |SELECT node, CAST(label AS BIGINT) AS label FROM l3""".stripMargin) {
      (s, d) => {
        val e = coSupplierEdges(s, d, "g21")
        graft.operators.Graphs.labelPropagation(e, rounds = 3)
      }
    },

    // ---- g23: common-neighbour link prediction --------------------------------
    // Which supplier pairs LOOK connected but aren't? Over the
    // sparsified co-purchase graph ('g23' salt): for non-adjacent pairs,
    // common-neighbour count via the wedge join (the g13 shape, here
    // emitting the open wedges instead of closing them) and the
    // neighbourhood Jaccard |N(a)∩N(b)| / |N(a)∪N(b)| — the classic
    // link-prediction score. Wedge middles cap at degree 50 (hub wedges
    // are deg² — the cap is the scale valve, pinned in the oracle);
    // degrees for the denominator come from the FULL graph. candidates
    // = common >= 2, raw double division (identical op order).
    Query("g23_link_predict",
      s"""WITH ${OracleSnippets.coSupplierEdgeCtes("g23", edges = "e0",
          as = "AS MATERIALIZED")},
        |bi AS MATERIALIZED (
        |  SELECT x AS s, y AS t FROM e0 UNION ALL SELECT y, x FROM e0),
        |deg AS (SELECT s, count(*) AS dg FROM bi GROUP BY 1),
        |mid AS (SELECT s FROM deg WHERE dg <= 50),
        |cn AS (
        |  SELECT a.t AS x, b.t AS y, count(*) AS common
        |  FROM bi a JOIN mid m ON a.s = m.s
        |  JOIN bi b ON a.s = b.s AND a.t < b.t
        |  GROUP BY 1, 2),
        |ne AS (
        |  SELECT cn.x, cn.y, cn.common FROM cn
        |  LEFT JOIN e0 ON cn.x = e0.x AND cn.y = e0.y
        |  WHERE e0.x IS NULL AND cn.common >= 2)
        |SELECT ne.x, ne.y, CAST(ne.common AS BIGINT) AS common,
        |       CAST(ne.common AS DOUBLE)
        |         / (da.dg + db.dg - ne.common) AS jaccard
        |FROM ne JOIN deg da ON ne.x = da.s JOIN deg db ON ne.y = db.s""".stripMargin) {
      (s, d) => {
        // bi legs + the non-edge anti-join share it
        val e0 = Materialize.pin(coSupplierEdges(s, d, "g23"))
        val bi = Materialize.pin(e0.select(col("x").as("s"), col("y").as("t"))
          .unionAll(e0.select(col("y").as("s"), col("x").as("t"))))
        val deg = bi.groupBy("s").agg(count(lit(1)).as("dg"))
        val mid = deg.filter(col("dg") <= 50).select("s")
        val cn = bi.join(mid, "s")
          .select(col("s"), col("t").as("wx"))
          .join(bi.select(col("s"), col("t").as("wy")), "s")
          .filter(col("wx") < col("wy"))
          .groupBy(col("wx").as("x"), col("wy").as("y"))
          .agg(count(lit(1)).as("common"))
        val ne = cn.join(e0, Seq("x", "y"), "left_anti")
          .filter(col("common") >= 2)
        ne.join(deg.select(col("s").as("x"), col("dg").as("da")), "x")
          .join(deg.select(col("s").as("y"), col("dg").as("db")), "y")
          .select(col("x"), col("y"), col("common").cast("long").as("common"),
            (col("common").cast("double")
              / (col("da") + col("db") - col("common"))).as("jaccard"))
      }
    },

    // ---- G20: multi-source BFS hop distances --------------------------------
    // Reachability layering over the sparsified co-purchase graph
    // ('g20' salt): distance in hops from the nearest "hub" supplier
    // (node ≡ 0 mod 10), 4 frontier rounds — facility-coverage /
    // blast-radius analysis, the shortest-path member the graph family
    // lacked. Fixed-round contract (g10/g19): the oracle unrolls 4
    // MATERIALIZED expansion stages; the engine runs the same 4
    // join+min-agg rounds. Nodes beyond 4 hops are absent by contract.
    Query("g20_bfs_distance",
      s"""WITH ${OracleSnippets.coSupplierEdgeCtes("g20", edges = "e0",
          as = "AS MATERIALIZED")},
        |bi AS MATERIALIZED (
        |  SELECT x AS s, y AS t FROM e0 UNION ALL SELECT y, x FROM e0),
        |d0 AS MATERIALIZED (
        |  SELECT DISTINCT n AS node, CAST(0 AS BIGINT) AS dist FROM (
        |    SELECT x AS n FROM e0 UNION ALL SELECT y FROM e0) t
        |  WHERE n % 10 = 0),
        |d1 AS MATERIALIZED (
        |  SELECT node, min(dist) AS dist FROM (
        |    SELECT node, dist FROM d0
        |    UNION ALL SELECT bi.t, d0.dist + 1 FROM bi JOIN d0 ON bi.s = d0.node) t
        |  GROUP BY 1),
        |d2 AS MATERIALIZED (
        |  SELECT node, min(dist) AS dist FROM (
        |    SELECT node, dist FROM d1
        |    UNION ALL SELECT bi.t, d1.dist + 1 FROM bi JOIN d1 ON bi.s = d1.node) t
        |  GROUP BY 1),
        |d3 AS MATERIALIZED (
        |  SELECT node, min(dist) AS dist FROM (
        |    SELECT node, dist FROM d2
        |    UNION ALL SELECT bi.t, d2.dist + 1 FROM bi JOIN d2 ON bi.s = d2.node) t
        |  GROUP BY 1),
        |d4 AS MATERIALIZED (
        |  SELECT node, min(dist) AS dist FROM (
        |    SELECT node, dist FROM d3
        |    UNION ALL SELECT bi.t, d3.dist + 1 FROM bi JOIN d3 ON bi.s = d3.node) t
        |  GROUP BY 1)
        |SELECT node, CAST(dist AS BIGINT) AS dist FROM d4""".stripMargin) {
      (s, d) => {
        // nodes + bidirectional legs share the pair join
        val e = Materialize.pin(coSupplierEdges(s, d, "g20"))
        val sources = e.select(col("x").as("node"))
          .unionAll(e.select(col("y").as("node")))
          .distinct().filter(col("node") % 10 === 0)
        graft.operators.Graphs.bfsDistances(e, sources, rounds = 4)
      }
    },

    // ---- A38: Gini concentration index per group ----------------------------
    // Inequality/concentration of order value within each market
    // segment — the "is 80% of the volume 3 customers?" audit. The
    // rank formula G = (2*Σi·x_i - (n+1)*Σx) / (n*Σx) over values
    // ranked ascending with a unique (value, orderkey) tiebreak. Every
    // sum is exact BIGINT on cent-quantized values (Σi·x bounded by
    // n·max_i·max_x << 2^63 at any plausible per-group n); the single
    // double division is the epilogue. One window pass + one hash agg.
    Query("a38_gini",
      """WITH j AS (
        |  SELECT c_mktsegment AS seg,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS x,
        |         o_orderkey AS k
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |r AS (SELECT seg, x,
        |             row_number() OVER (PARTITION BY seg ORDER BY x, k) AS i
        |      FROM j),
        |a AS (SELECT seg, count(*) AS n, sum(x) AS sx, sum(i * x) AS six
        |      FROM r GROUP BY 1)
        |SELECT seg, CAST(n AS BIGINT) AS n,
        |       round(CAST(2 * six - (n + 1) * sx AS DOUBLE)
        |             / CAST(n * sx AS DOUBLE), 6) AS gini
        |FROM a""".stripMargin) {
      (s, d) => {
        val j = Tables.orders(s, d)
          .join(Tables.customer(s, d),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("seg"),
            round(col("o_totalprice") * 100).cast("long").as("x"),
            col("o_orderkey").as("k"))
        val w = Window.partitionBy("seg").orderBy("x", "k")
        val a = j.withColumn("i", row_number().over(w))
          .groupBy("seg").agg(count(lit(1)).as("n"),
            sum("x").as("sx"), sum(col("i") * col("x")).as("six"))
        a.select(col("seg"), col("n").cast("long").as("n"),
          round((lit(2) * col("six") - (col("n") + 1) * col("sx")).cast("double")
            / (col("n") * col("sx")).cast("double"), 6).as("gini"))
      }
    },

    // ---- W35: robust MAD outlier flags per key ------------------------------
    // w26's rolling z-score inherits the mean/σ fragility a35-family
    // stats warn about: one huge spike inflates σ and hides later
    // spikes. The robust twin: per-type daily series flagged against
    // median ± 3·1.4826·MAD. Both medians (values, absolute
    // deviations) use w33's interpolation-free rank rule ((m+1)//2,
    // (m+2)//2, 2-element fp mean) so the oracle replays them exactly;
    // |x − med| is a single fixed-order double op on decimal-routed
    // inputs. Two window passes + two tiny joins (per-key scalars
    // broadcast back).
    Query("w35_mad_outliers",
      s"""WITH ${dailyTypeSumCte(xs => s"CAST($xs AS DOUBLE) AS x")},
        |r AS (SELECT event_type, day, x,
        |             row_number() OVER (PARTITION BY event_type ORDER BY x, day) AS rn,
        |             count(*) OVER (PARTITION BY event_type) AS m
        |      FROM d),
        |med AS (SELECT event_type, avg(x) AS med FROM r
        |        WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2 GROUP BY 1),
        |dev AS (SELECT d.event_type, d.day, d.x, abs(d.x - med.med) AS ad, med.med
        |        FROM d JOIN med ON d.event_type = med.event_type),
        |r2 AS (SELECT event_type, ad,
        |              row_number() OVER (PARTITION BY event_type ORDER BY ad, day) AS rn,
        |              count(*) OVER (PARTITION BY event_type) AS m
        |       FROM dev),
        |mad AS (SELECT event_type, avg(ad) AS mad FROM r2
        |        WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2 GROUP BY 1)
        |SELECT dev.event_type, dev.day, dev.x, dev.med, mad.mad,
        |       dev.ad > 3 * 1.4826 * mad.mad AS outlier
        |FROM dev JOIN mad ON dev.event_type = mad.event_type""".stripMargin) {
      (s, d) => {
        // ranks, deviations, and output share one agg; event type x day
        val daily = Materialize.small(Temporal.dailyTypeSums(s, d)(_.cast("double").as("x")))
        def medianOf(df: org.apache.spark.sql.DataFrame, valCol: String,
                     tie: String, out: String) = {
          val w = Window.partitionBy("event_type").orderBy(valCol, tie)
          df.withColumn("rn", row_number().over(w))
            .withColumn("m", count(lit(1)).over(Window.partitionBy("event_type")))
            .filter(col("rn") === floor((col("m") + 1) / 2)
              || col("rn") === floor((col("m") + 2) / 2))
            .groupBy("event_type").agg(avg(valCol).as(out))
        }
        val med = medianOf(daily, "x", "day", "med")
        val dev = daily.join(broadcast(med), "event_type")
          .withColumn("ad", abs(col("x") - col("med")))
        val mad = medianOf(dev, "ad", "day", "mad")
        dev.join(broadcast(mad), "event_type")
          .select(col("event_type"), col("day"), col("x"), col("med"), col("mad"),
            (col("ad") > lit(3) * lit(1.4826) * col("mad")).as("outlier"))
      }
    },

    // ---- A44: Spearman rank correlation per group -------------------------------
    // Does order value track basket size, monotonically, per segment?
    // a29's Pearson sees only linear relationships; Spearman ranks
    // first. Tie-broken variant: row_number with the orderkey tiebreak
    // gives distinct ranks, so rho = 1 - 6*Σd²/(n(n²-1)) holds exactly
    // — ALL integer arithmetic until one final double division. Rank
    // windows partition by segment (never a global single-partition
    // sort); two joins + two window passes + one hash agg.
    Query("a44_spearman",
      """WITH pairs AS (
        |  SELECT c_mktsegment AS seg, o.o_orderkey AS k,
        |         o.o_totalprice AS x, count(*) AS y
        |  FROM orders o JOIN customer ON o_custkey = c_custkey
        |                JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2, 3),
        |r AS (SELECT seg,
        |        row_number() OVER (PARTITION BY seg ORDER BY x, k) AS rx,
        |        row_number() OVER (PARTITION BY seg ORDER BY y, k) AS ry
        |      FROM pairs),
        |s AS (SELECT seg, count(*) AS n,
        |             sum((rx - ry) * (rx - ry)) AS sd2 FROM r GROUP BY 1)
        |SELECT seg, CAST(n AS BIGINT) AS n,
        |       1.0 - 6.0 * CAST(sd2 AS DOUBLE)
        |             / (CAST(n AS DOUBLE)
        |                * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0))
        |         AS spearman_rho
        |FROM s""".stripMargin) {
      (s, d) => {
        // aggregate lineitem BEFORE the join: y is just lines-per-order,
        // so the pre-agg (map-side partial) shuffles order-count rows
        // instead of joining the full lineitem fact and aggregating
        // after — same result (customer is 1:1 per order), ~4x less
        // join input. Catalyst has no generic agg-through-join pushdown.
        val lc = Tables.lineitem(s, d).groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("y"))
        val pairs = Tables.orders(s, d)
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(lc, col("l_orderkey") === col("o_orderkey"))
          .select(col("c_mktsegment").as("seg"), col("o_orderkey").as("k"),
            col("o_totalprice").as("x"), col("y"))
        val wx = Window.partitionBy("seg").orderBy("x", "k")
        val wy = Window.partitionBy("seg").orderBy("y", "k")
        val r = pairs.select(col("seg"),
          row_number().over(wx).as("rx"), row_number().over(wy).as("ry"))
        val d2 = (col("rx").cast("long") - col("ry")) *
          (col("rx").cast("long") - col("ry"))
        r.groupBy("seg")
          .agg(count(lit(1)).as("nn"), sum(d2).as("sd2"))
          .select(col("seg"), col("nn").cast("long").as("n"),
            (lit(1.0) - lit(6.0) * col("sd2").cast("double")
              / (col("nn").cast("double")
                * (col("nn").cast("double") * col("nn").cast("double") - lit(1.0))))
              .as("spearman_rho"))
      }
    },

    // ---- A43: autocorrelation function (lags 1-3) per daily series -------------
    // The time-series diagnostic behind w34's seasonal model: lag-k ACF
    // of each type's daily-sum series, acf_k = Σ d_t·d_{t+k} / Σ d_t²
    // on mean-centered values. One window pass yields all three leads;
    // every product routes through the floor(x*1e6+.5) micro-unit
    // quantizer (products are doubles — an unordered double sum would
    // be partition-dependent; micro-units sum exactly as BIGINT).
    Query("a43_acf",
      s"""WITH ${dailyTypeSumCte(xs => s"CAST($xs AS DOUBLE) AS x")},
        |m AS (SELECT event_type,
        |             CAST(sum(CAST(x AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS mu
        |      FROM d GROUP BY 1),
        |l AS (SELECT d.event_type, x, mu,
        |             lead(x, 1) OVER w AS x1, lead(x, 2) OVER w AS x2,
        |             lead(x, 3) OVER w AS x3
        |      FROM d JOIN m USING (event_type)
        |      WINDOW w AS (PARTITION BY d.event_type ORDER BY day)),
        |q AS (SELECT event_type,
        |             CAST(floor((x - mu) * (x - mu) * 1000000.0 + 0.5) AS BIGINT) AS den,
        |             CAST(floor((x - mu) * (x1 - mu) * 1000000.0 + 0.5) AS BIGINT) AS n1,
        |             CAST(floor((x - mu) * (x2 - mu) * 1000000.0 + 0.5) AS BIGINT) AS n2,
        |             CAST(floor((x - mu) * (x3 - mu) * 1000000.0 + 0.5) AS BIGINT) AS n3
        |      FROM l)
        |SELECT event_type, 1 AS k,
        |       CAST(sum(n1) AS DOUBLE) / CAST(sum(den) AS DOUBLE) AS acf
        |FROM q GROUP BY 1
        |UNION ALL
        |SELECT event_type, 2, CAST(sum(n2) AS DOUBLE) / CAST(sum(den) AS DOUBLE)
        |FROM q GROUP BY 1
        |UNION ALL
        |SELECT event_type, 3, CAST(sum(n3) AS DOUBLE) / CAST(sum(den) AS DOUBLE)
        |FROM q GROUP BY 1""".stripMargin) {
      (s, d) => {
        // mean + lead window both read the one scan; event type x day
        val daily = Materialize.small(Temporal.dailyTypeSums(s, d)(_.cast("double").as("x")))
        val mu = daily.groupBy("event_type")
          .agg((sum(col("x").cast("decimal(18,4)")).cast("double")
            / count(lit(1))).as("mu"))
        val w = Window.partitionBy("event_type").orderBy("day")
        def q6(c: org.apache.spark.sql.Column) =
          floor(c * lit(1000000.0) + lit(0.5)).cast("long")
        // three ACF legs share the one window pass; event type x day
        val l = Materialize.small(daily.join(broadcast(mu), "event_type")
          .withColumn("x1", lead(col("x"), 1).over(w))
          .withColumn("x2", lead(col("x"), 2).over(w))
          .withColumn("x3", lead(col("x"), 3).over(w))
          .select(col("event_type"),
            q6((col("x") - col("mu")) * (col("x") - col("mu"))).as("den"),
            q6((col("x") - col("mu")) * (col("x1") - col("mu"))).as("n1"),
            q6((col("x") - col("mu")) * (col("x2") - col("mu"))).as("n2"),
            q6((col("x") - col("mu")) * (col("x3") - col("mu"))).as("n3")))
        def leg(k: Int) = l.groupBy("event_type")
          .agg((sum(col(s"n$k")).cast("double")
            / sum(col("den")).cast("double")).as("acf"))
          .select(col("event_type"), lit(k).as("k"), col("acf"))
        leg(1).unionByName(leg(2)).unionByName(leg(3))
      }
    },

    // ---- A42: running-peak max drawdown per key --------------------------------
    // The stock-ledger risk statistic (g06's running balance, w22's
    // streak machinery pointed at magnitude): per user, the cumulative
    // value curve, its running peak, and the deepest peak-to-trough
    // fall. Every intermediate stays DECIMAL (cumsum, running max,
    // difference, max) — zero float folds anywhere — with one double
    // cast at the very edge. Two window passes + one hash agg, all
    // keyed by user_id.
    Query("a42_max_drawdown",
      """WITH b AS (
        |  SELECT user_id, ts, event_id,
        |         sum(CAST(value AS DECIMAL(18,4)))
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS bal
        |  FROM events),
        |p AS (SELECT user_id, bal,
        |             max(bal) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS peak
        |      FROM b)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |       CAST(max(peak - bal) AS DOUBLE) AS max_drawdown,
        |       CAST(max(bal) AS DOUBLE) AS peak_balance
        |FROM p GROUP BY 1""".stripMargin) {
      (s, d) => {
        val wB = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wP = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            sum(col("value").cast("decimal(18,4)")).over(wB).as("bal"))
          .withColumn("peak", max(col("bal")).over(wP))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            max(col("peak") - col("bal")).cast("double").as("max_drawdown"),
            max(col("bal")).cast("double").as("peak_balance"))
      }
    },

    // ---- A41: pairwise Cohen's d effect sizes ---------------------------------
    // a40's F says the segments differ; this says BY HOW MUCH, pairwise:
    // d = (m_a - m_b) / s_pooled over the same cents-quantized moments
    // (effect size is what survives when n makes every p-value tiny —
    // the statistic a release report should actually print). 5-row
    // moments table self-joined on seg < seg: 10 pairs of raw-double
    // arithmetic in pinned order, data volume only touches the one
    // moments aggregate.
    Query("a41_cohens_d",
      s"""WITH $SegCentsCte,
        |${segMomentCte("x", "xc")},
        |v AS (
        |  SELECT seg, ng AS n, CAST(s1 AS DOUBLE) / ng AS m,
        |         (CAST(s2 AS DOUBLE)
        |          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / ng) / (ng - 1) AS var
        |  FROM g)
        |SELECT a.seg AS seg_a, b.seg AS seg_b,
        |       CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
        |       (a.m - b.m)
        |         / sqrt(((a.n - 1) * a.var + (b.n - 1) * b.var)
        |                / (a.n + b.n - 2)) AS cohens_d
        |FROM v a JOIN v b ON a.seg < b.seg""".stripMargin) {
      (s, d) => {
        val g = segMoments(segCents(s, d), "xc", n = "n")
        val v = g.select(col("seg"), col("n"),
          (col("s1").cast("double") / col("n")).as("m"),
          ((col("s2").cast("double")
            - col("s1").cast("double") * col("s1").cast("double") / col("n"))
            / (col("n") - 1)).as("var"))
        val a = v.select(col("seg").as("seg_a"), col("n").as("na"),
          col("m").as("ma"), col("var").as("va"))
        val b = v.select(col("seg").as("seg_b"), col("n").as("nb"),
          col("m").as("mb"), col("var").as("vb"))
        a.join(b, col("seg_a") < col("seg_b"))
          .select(col("seg_a"), col("seg_b"),
            col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
            ((col("ma") - col("mb"))
              / sqrt(((col("na") - 1) * col("va") + (col("nb") - 1) * col("vb"))
                / (col("na") + col("nb") - 2))).as("cohens_d"))
      }
    },

    // ---- A40: one-way ANOVA F statistic ---------------------------------------
    // Does order value differ ACROSS the five market segments? a32's
    // Welch t compares two groups; this is the k-group omnibus:
    // F = (SSB/(k-1)) / (SSW/(n-k)) from per-group (n, Σx, Σx²) — one
    // hash aggregate over the join, exact decimal moment sums, then the
    // five per-group double terms round to 6dp and re-sum through
    // DECIMAL (a cross-group double fold would be partition-order-
    // dependent). Group moments are the only thing the data volume
    // touches; everything after is 5-row arithmetic.
    Query("a40_anova",
      s"""WITH $SegCentsCte,
        |${segMomentCte("x", "xc")},
        |$AnovaSumCtes
        |SELECT CAST(k AS BIGINT) AS k, n, ssb, ssw,
        |       (ssb / (k - 1)) / (ssw / (n - k)) AS f_stat
        |FROM a, t""".stripMargin) {
      (s, d) => {
        val (a, t) = anovaSums(segMoments(segCents(s, d), "xc", n = "ng"))
        a.crossJoin(broadcast(t)).select(
          col("k").cast("long").as("k"), col("n"), col("ssb"), col("ssw"),
          ((col("ssb") / (col("k") - 1)) / (col("ssw") / (col("n") - col("k"))))
            .as("f_stat"))
      }
    },

    // ---- A39: count-min sketch point estimates ------------------------------
    // The third sketch of the family (a17/a26 HLL distinct, a27
    // Misra-Gries heavy hitters): CMS answers "how often did item i
    // occur" in d*w cells regardless of item cardinality, always
    // OVERcounting (collisions add, never subtract) — the overcount
    // column pins that one-sided guarantee per item. d = 4 hash rows,
    // w = 64 buckets, md5-derived buckets so the oracle replays the
    // sketch exactly. The scale shape: the sketch is built from the
    // PRE-AGGREGATED per-item counts (one map-side-combinable shuffle
    // over raw events), cells are 4x the distinct items, and the
    // 256-cell sketch broadcasts back for the min-over-rows estimate —
    // raw events are never shipped per hash row.
    Query("a39_countmin",
      """WITH counts AS (
        |  SELECT CAST(user_id AS VARCHAR) AS item, count(*) AS n_true
        |  FROM events GROUP BY 1),
        |cells AS (
        |  SELECT j, item, n_true,
        |         CAST('0x' || substr(md5(item || '#' || CAST(j AS VARCHAR)), 1, 4)
        |              AS INT) % 64 AS bucket
        |  FROM counts, (SELECT unnest(generate_series(0, 3)) AS j)),
        |sketch AS (SELECT j, bucket, sum(n_true) AS cell FROM cells GROUP BY 1, 2),
        |est AS (
        |  SELECT c.item, c.n_true, min(s.cell) AS n_cms
        |  FROM cells c JOIN sketch s ON c.j = s.j AND c.bucket = s.bucket
        |  GROUP BY 1, 2)
        |SELECT item, CAST(n_true AS BIGINT) AS n_true,
        |       CAST(n_cms AS BIGINT) AS n_cms,
        |       CAST(n_cms - n_true AS BIGINT) AS overcount
        |FROM est""".stripMargin) {
      (s, d) => {
        val counts = Tables.events(s, d)
          .groupBy(col("user_id").cast("string").as("item"))
          .agg(count(lit(1)).as("n_true"))
        // sketch build + estimate join share one pass
        val cells = Materialize.pin(counts.select(col("item"), col("n_true"),
            explode(array((0 to 3).map(lit(_)): _*)).as("j"))
          .withColumn("bucket",
            conv(substring(md5(concat(col("item"), lit("#"),
              col("j").cast("string"))), 1, 4), 16, 10).cast("int") % 64))
        val sketch = cells.groupBy("j", "bucket").agg(sum("n_true").as("cell"))
        cells.join(broadcast(sketch), Seq("j", "bucket"))
          .groupBy("item", "n_true").agg(min("cell").as("n_cms"))
          .select(col("item"), col("n_true").cast("long").as("n_true"),
            col("n_cms").cast("long").as("n_cms"),
            (col("n_cms") - col("n_true")).cast("long").as("overcount"))
      }
    },

    // ---- G24: local clustering coefficient --------------------------------
    // Per-node triangle density over the g13 co-purchase graph (fresh
    // 'g24' sparsification salt so the two rows stay independent draws).
    // Same degree-oriented enumeration as g13 — every triangle appears
    // exactly once at its unique two-out-edge node — but instead of
    // counting globally, each closed wedge EXPLODES into its three member
    // nodes and a hash agg counts per node. coeff = 2*T_v / (d_v*(d_v-1))
    // is one double division on exact integers (same op both engines).
    // Max out-degree after orientation is O(sqrt(m)), so the wedge join
    // is bounded on hubs — the property that keeps this shape alive at
    // 100 TB. Nodes with deg >= 2 and zero triangles still report (left
    // join + coalesce); deg < 2 nodes have no defined coefficient.
    Query("g24_clustering_coeff",
      s"""WITH ${OracleSnippets.coSupplierEdgeCtes("g24")},
        |${OracleSnippets.OrientedEdgeCtes},
        |wedge AS (
        |  SELECT a.src AS u, a.dst AS v, b.dst AS w
        |  FROM de a JOIN de b ON a.src = b.src AND a.dst < b.dst),
        |tri AS (
        |  SELECT u, v, w FROM wedge JOIN de
        |    ON least(wedge.v, wedge.w) = least(de.src, de.dst)
        |   AND greatest(wedge.v, wedge.w) = greatest(de.src, de.dst)),
        |pt AS (
        |  SELECT node, count(*) AS t FROM (
        |    SELECT u AS node FROM tri UNION ALL
        |    SELECT v FROM tri UNION ALL
        |    SELECT w FROM tri)
        |  GROUP BY 1)
        |SELECT CAST(deg.node AS BIGINT) AS node, CAST(dg AS BIGINT) AS deg,
        |       CAST(coalesce(t, 0) AS BIGINT) AS tri,
        |       2.0 * CAST(coalesce(t, 0) AS DOUBLE)
        |         / (CAST(dg AS DOUBLE) * (CAST(dg AS DOUBLE) - 1.0)) AS coeff
        |FROM deg LEFT JOIN pt ON deg.node = pt.node
        |WHERE dg >= 2""".stripMargin) {
      (s, d) => {
        val e = Materialize.pin(coSupplierEdges(s, d, "g24")) // 3 references (edges + both degree legs)
        // orientation + final report both read it
        val deg = Materialize.pin(edgeDegrees(e))
        val de = degreeOriented(e, deg)
        val wedge = de.toDF("u", "v")
          .join(de.toDF("s2", "w"), col("u") === col("s2") && col("v") < col("w"))
          .select("u", "v", "w")
        val closing = de.select(
          least(col("src"), col("dst")).as("cv"), greatest(col("src"), col("dst")).as("cw"))
        val tri = wedge.join(closing,
          least(col("v"), col("w")) === col("cv") &&
          greatest(col("v"), col("w")) === col("cw"))
        val perNode = tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
          .groupBy("node").agg(count(lit(1)).as("t"))
        deg.filter(col("dg") >= 2)
          .join(perNode.toDF("pn", "t"), col("node") === col("pn"), "left")
          .select(col("node").cast("long").as("node"), col("dg").cast("long").as("deg"),
            coalesce(col("t"), lit(0L)).cast("long").as("tri"),
            (lit(2.0) * coalesce(col("t"), lit(0L)).cast("double")
              / (col("dg").cast("double") * (col("dg").cast("double") - lit(1.0))))
              .as("coeff"))
      }
    },

    // ---- G25: degree assortativity ------------------------------------------
    // Do high-degree suppliers co-purchase with other hubs (r > 0) or with
    // the periphery (r < 0)? Pearson correlation of endpoint degrees over
    // all DIRECTED edge slots (each undirected edge contributes both
    // orderings, the standard Newman formulation, which makes the two
    // marginals identical). Everything is exact BIGINT sums — count,
    // sum(dx), sum(dx*dx), sum(dx*dy) — with one double division at the
    // end, so partition order can never move a bit. One edge
    // materialization, one degree agg, two broadcast-sized joins, one
    // global agg: no shuffle grows with degree skew.
    Query("g25_assortativity",
      s"""WITH ${OracleSnippets.coSupplierEdgeCtes("g25")},
        |deg AS (
        |  SELECT node, count(*) AS dg FROM (
        |    SELECT x AS node FROM e UNION ALL SELECT y FROM e)
        |  GROUP BY 1),
        |slots AS (
        |  SELECT dx.dg AS j, dy.dg AS k
        |  FROM e JOIN deg dx ON e.x = dx.node JOIN deg dy ON e.y = dy.node
        |  UNION ALL
        |  SELECT dy.dg, dx.dg
        |  FROM e JOIN deg dx ON e.x = dx.node JOIN deg dy ON e.y = dy.node),
        |sums AS (
        |  SELECT count(*) AS m, sum(j) AS sj, sum(j * j) AS sj2,
        |         sum(j * k) AS sjk
        |  FROM slots)
        |SELECT CAST(m // 2 AS BIGINT) AS n_edges,
        |       CAST(m * sjk - sj * sj AS DOUBLE)
        |         / CAST(m * sj2 - sj * sj AS DOUBLE) AS assortativity
        |FROM sums
        |WHERE m * sj2 - sj * sj <> 0""".stripMargin) {
      (s, d) => {
        val e = Materialize.pin(coSupplierEdges(s, d, "g25"))
        val deg = edgeDegrees(e)
        // both slot directions read the one joined pass
        val withDeg = Materialize.pin(e
          .join(deg.toDF("nx", "dx"), col("x") === col("nx"))
          .join(deg.toDF("ny", "dy"), col("y") === col("ny"))
          .select(col("dx").cast("long").as("dx"), col("dy").cast("long").as("dy")))
        val slots = withDeg.select(col("dx").as("j"), col("dy").as("k"))
          .unionAll(withDeg.select(col("dy").as("j"), col("dx").as("k")))
        slots.agg(count(lit(1)).as("m"), sum("j").as("sj"),
            sum(col("j") * col("j")).as("sj2"), sum(col("j") * col("k")).as("sjk"))
          // a zero-variance degree sequence (every endpoint the same degree)
          // has no defined assortativity: emit nothing rather than 0/0
          // (which ANSI Spark raises on) — g25 joins the legitimately-
          // empty-at-smoke allowlist for the sparse sf0.001 graph
          .filter(col("m") * col("sj2") - col("sj") * col("sj") =!= 0)
          .select(expr("m div 2").cast("long").as("n_edges"),
            ((col("m") * col("sjk") - col("sj") * col("sj")).cast("double")
              / (col("m") * col("sj2") - col("sj") * col("sj")).cast("double"))
              .as("assortativity"))
      }
    },

    // ---- G26: HITS hubs and authorities -------------------------------------
    // Kleinberg's HITS on the DIRECTED customer -> supplier purchase
    // graph: customers are pure hubs, suppliers pure authorities, so the
    // mutual-reinforcement recursion is a clean alternating join-agg.
    // Two full rounds (auth <- sum hub, hub <- sum auth), exact BIGINT
    // fixed-point seeded at 1000 — unnormalized growth is bounded by
    // hub2 <= max_outdeg^2 * max_indeg^2 * 1000, ~8e16 at sf0.1, well
    // under 2^63 (a production variant normalizes per round in floats;
    // the fixed-point form is the oracle contract, same as g10/g22).
    // Edges materialize once (localCheckpoint) and each round moves only
    // the O(nodes) score table through one join+agg — the Pregel shape.
    Query("g26_hits",
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |a1 AS (SELECT s, 1000 * count(*) AS auth FROM e GROUP BY 1),
        |h1 AS (SELECT c, sum(a1.auth) AS hub
        |       FROM e JOIN a1 ON e.s = a1.s GROUP BY 1),
        |a2 AS (SELECT e.s, sum(h1.hub) AS auth
        |       FROM e JOIN h1 ON e.c = h1.c GROUP BY 1),
        |h2 AS (SELECT e.c, sum(a2.auth) AS hub
        |       FROM e JOIN a2 ON e.s = a2.s GROUP BY 1)
        |SELECT 'auth' AS side, CAST(s AS BIGINT) AS node,
        |       CAST(auth AS BIGINT) AS score FROM a2
        |UNION ALL
        |SELECT 'hub', CAST(c AS BIGINT), CAST(hub AS BIGINT) FROM h2""".stripMargin) {
      (s, d) => {
        // 4 round joins read the one edge table
        val e = Materialize.pin(Tables.orders(s, d).select("o_orderkey", "o_custkey")
          .join(graft.core.Par.fanOut( // §2.5: parallel probe of the fact scan
              Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
              col("l_orderkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
          .distinct()
          .repartition(col("s")))
        // hub0 = 1000 for every customer, so auth1 folds into a count
        val a1 = e.groupBy("s").agg((lit(1000L) * count(lit(1))).as("auth"))
        val h1 = e.join(a1.toDF("as1", "auth"), col("s") === col("as1"))
          .groupBy("c").agg(sum("auth").as("hub"))
        val a2 = e.join(h1.toDF("hc", "hub"), col("c") === col("hc"))
          .groupBy("s").agg(sum("hub").as("auth"))
        val h2 = e.join(a2.toDF("as2", "auth"), col("s") === col("as2"))
          .groupBy("c").agg(sum("auth").as("hub"))
        a2.select(lit("auth").as("side"), col("s").cast("long").as("node"),
            col("auth").cast("long").as("score"))
          .unionAll(h2.select(lit("hub"), col("c").cast("long"),
            col("hub").cast("long")))
      }
    },

    // ---- A45: Kruskal-Wallis H test ------------------------------------------
    // The k-group rank omnibus (a34's Mann-Whitney generalized, a40's
    // ANOVA without the normality assumption): do order values differ
    // across the five market segments by RANK? Average ranks with ties
    // stay exact integers by carrying 2x the average rank
    // (avg2 = 2*before + t + 1 for a tie group of size t), computed
    // TWO-LEVEL: per-value counts bucket by value range, the tiny
    // bucket table prefix-sums (O(buckets) window), and the within-
    // bucket window is partitioned — no global single-partition sort at
    // any scale (the RollingMoments trick). ss = sum(avg2) per group is
    // BIGINT; ss <= 2*N^2 stays under 2^53, so the one ss*ss/n term per
    // group is an exact-identical double in both engines, folded in seg
    // order (the a40 recipe). Tie correction divides by
    // 1 - sum(t^3-t)/(N^3-N), all-integer numerators.
    Query("a45_kruskal_wallis",
      s"""WITH u AS (
        |  SELECT c_mktsegment AS seg,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS xc
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |vals AS (SELECT xc, count(*) AS cnt FROM u GROUP BY 1),
        |rk AS (SELECT xc, cnt,
        |              2 * (sum(cnt) OVER (ORDER BY xc) - cnt) + cnt + 1 AS avg2
        |       FROM vals),
        |g AS (SELECT seg, count(*) AS ng, CAST(sum(avg2) AS BIGINT) AS ss
        |      FROM u JOIN rk USING (xc) GROUP BY 1),
        |t AS (SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n FROM g),
        |tie AS (SELECT CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS ts
        |        FROM vals),
        |terms AS (SELECT seg,
        |                 CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / ng AS term
        |          FROM g),
        |f AS (SELECT ${OracleSnippets.sumFold("list(term ORDER BY seg)")} AS ssum
        |      FROM terms),
        |hh AS (SELECT k, n, ts,
        |              3.0 * ssum / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1)
        |                AS h
        |       FROM f, t, tie)
        |SELECT CAST(k AS BIGINT) AS k, n, h,
        |       h / (1.0 - CAST(ts AS DOUBLE)
        |                    / (CAST(n AS DOUBLE) * n * n - n)) AS h_adj
        |FROM hh""".stripMargin) {
      (s, d) => {
        val u = Tables.orders(s, d)
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("seg"),
            round(col("o_totalprice") * 100).cast("long").as("xc"))
        // bucket prefix + within-bucket rank + ties share it
        val vals = Materialize.pin(u.groupBy("xc").agg(count(lit(1)).as("cnt"))
          .withColumn("bkt", expr("xc div 100000")))
        // two-level global rank: O(buckets) prefix window + partitioned within
        val bcnt = vals.groupBy("bkt").agg(sum("cnt").as("bn"))
        val wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
        val bpre = bcnt.withColumn("bb", coalesce(sum("bn").over(wb), lit(0L)))
          .select("bkt", "bb")
        val ww = Window.partitionBy("bkt").orderBy("xc")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val rk = vals.join(broadcast(bpre), "bkt")
          .withColumn("before", col("bb") + sum("cnt").over(ww) - col("cnt"))
          .select(col("xc"), col("cnt"),
            (lit(2) * col("before") + col("cnt") + 1).as("avg2"))
        val g = u.join(rk.select("xc", "avg2"), "xc")
          .groupBy("seg").agg(count(lit(1)).as("ng"), sum("avg2").as("ss"))
        val t = g.agg(count(lit(1)).as("k"), sum("ng").cast("long").as("n"))
        val tie = vals.agg(
          sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("ts"))
        val terms = g.select(col("seg"),
          (col("ss").cast("double") * col("ss").cast("double") / col("ng"))
            .as("term"))
        val ssum = terms.agg(aggregate(
          transform(sort_array(collect_list(struct(col("seg"), col("term")))),
            e => e.getField("term")),
          lit(0.0), (acc, v) => acc + v).as("ssum"))
        val nD = col("n").cast("double")
        ssum.crossJoin(broadcast(t)).crossJoin(broadcast(tie))
          .select(col("k").cast("long").as("k"), col("n"),
            (lit(3.0) * col("ssum") / (nD * (col("n") + 1))
              - lit(3.0) * (col("n") + 1)).as("h"), col("ts"))
          .select(col("k"), col("n"), col("h"),
            (col("h") / (lit(1.0) - col("ts").cast("double")
              / (nD * col("n") * col("n") - col("n")))).as("h_adj"))
      }
    },

    // ---- A46: Brown-Forsythe variance-equality test ---------------------------
    // Are the segments' spreads equal? Levene's test with the median
    // center (Brown-Forsythe): z = |x - median_g|, then one-way ANOVA F
    // on z. Medians come from the w35 two-middle-rows pattern (exact on
    // cents); carrying 2x the median keeps z exact INTEGER
    // (z2 = |2x - 2med|, F is scale-invariant), so the group moments are
    // the same exact decimal sums as a40 and the per-group terms fold in
    // seg order. One rank window + one broadcast join + one moment agg.
    Query("a46_brown_forsythe",
      s"""WITH $SegCentsCte,
        |r AS (SELECT seg, xc,
        |             row_number() OVER (PARTITION BY seg ORDER BY xc, okey) AS rn,
        |             count(*) OVER (PARTITION BY seg) AS m
        |      FROM x),
        |med AS (SELECT seg, CAST(sum(xc) * 2 // count(*) AS BIGINT) AS med2
        |        FROM r WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2
        |        GROUP BY 1),
        |z AS (SELECT x.seg, abs(2 * xc - med2) AS z2
        |      FROM x JOIN med ON x.seg = med.seg),
        |${segMomentCte("z", "z2")},
        |$AnovaSumCtes
        |SELECT CAST(k AS BIGINT) AS k, n,
        |       (ssb / (k - 1)) / (ssw / (n - k)) AS f_bf
        |FROM a, t""".stripMargin) {
      (s, d) => {
        // rank pass + deviation join share one scan
        val x = Materialize.pin(segCents(s, d, col("o_orderkey").as("okey")))
        val wr = Window.partitionBy("seg").orderBy("xc", "okey")
        val r = x.withColumn("rn", row_number().over(wr))
          .withColumn("m", count(lit(1)).over(Window.partitionBy("seg")))
        val med = r.filter(col("rn") === floor((col("m") + 1) / 2)
            || col("rn") === floor((col("m") + 2) / 2))
          .groupBy("seg").agg(expr("(sum(xc) * 2) div count(*)").as("med2"))
        val z = x.join(broadcast(med), "seg")
          .select(col("seg"), abs(lit(2) * col("xc") - col("med2")).as("z2"))
        val (a, t) = anovaSums(segMoments(z, "z2", n = "ng"))
        a.crossJoin(broadcast(t)).select(
          col("k").cast("long").as("k"), col("n"),
          ((col("ssb") / (col("k") - 1)) / (col("ssw") / (col("n") - col("k"))))
            .as("f_bf"))
      }
    },

    // ---- W44: RFM scoring ------------------------------------------------------
    // The mart every growth team builds: per user, recency (days since
    // last purchase vs the corpus max day), frequency, and monetary
    // (decimal-exact cents), each quintiled by ntile with the user id
    // tiebreak so bucket boundaries are deterministic, concatenated
    // into the RFM segment code. The ntile windows run over the USER
    // table (one row per user — already aggregated), so the global
    // window is user-cardinality-sized, not event-sized.
    // ---- W47: Kaplan-Meier survival curves (right-censored churn) --------------
    // Time-to-churn with CENSORING — the estimator a naive "avg
    // lifetime" gets wrong because still-active users aren't churns:
    // churn = a user's
    // FIRST inactivity gap over 12 hours (duration = hours from first
    // event to the last active moment before it); users with no such
    // gap are right-censored at their observed span but still count in
    // every risk set their duration reaches. n_risk(t) is a
    // DESCENDING cumulative count (no per-t subquery), and the product
    // fold S(t) = prod(1 - d/n) runs as a time-ordered window sum of
    // 6dp-DECIMAL ln terms (exact cumulative, one exp at the end) — the
    // a40 recipe applied to a running product. Degenerate terminal
    // points (d = n_risk, ln 0) are excluded by contract. Everything
    // after the per-user aggregate is duration-cardinality.
    Query("w47_km_survival",
      """WITH l AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                                 ORDER BY epoch_us(ts), event_id)
        |           AS prev
        |  FROM events),
        |u AS (
        |  SELECT user_id, user_id % 3 AS cohort, min(us) AS first_us,
        |         max(us) AS last_us,
        |         min(CASE WHEN us - prev > 43200000000 THEN prev END)
        |           AS churn_at
        |  FROM l GROUP BY 1, 2),
        |uu AS (SELECT cohort,
        |              (coalesce(churn_at, last_us) - first_us)
        |                // 3600000000 AS dur,
        |              CASE WHEN churn_at IS NULL THEN 0 ELSE 1 END AS ev
        |       FROM u),
        |cnt AS (SELECT cohort, dur, count(*) AS c, sum(ev) AS d
        |        FROM uu GROUP BY 1, 2),
        |w AS (SELECT cohort, dur AS t, d,
        |             sum(c) OVER (PARTITION BY cohort ORDER BY dur DESC)
        |               AS n_risk
        |      FROM cnt),
        |km AS (
        |  SELECT cohort, t, d, n_risk,
        |         sum(CAST(round(ln(1.0 - CAST(d AS DOUBLE) / n_risk), 6)
        |                  AS DECIMAL(18,6)))
        |           OVER (PARTITION BY cohort ORDER BY t) AS lnsum
        |  FROM w WHERE d > 0 AND d < n_risk)
        |SELECT CAST(cohort AS BIGINT) AS cohort, CAST(t AS BIGINT) AS t,
        |       CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d,
        |       round(exp(CAST(lnsum AS DOUBLE)), 9) AS s
        |FROM km""".stripMargin) {
      (s, d) => {
        // Round-13 default: NO event-sized sort anywhere in the plan.
        // The old form computed gaps with a per-user lag window — a
        // hash exchange PLUS a sort of every event partition (the
        // "global risk-set ordering over subjects", 37.6 s n·log n at
        // 100x). Gap detection now folds inside ONE partial-aggregated
        // hash aggregate: sort_array over each user's own timestamps
        // (per-user-cardinality state, ~tens of events here; a user
        // whose history outgrows task memory gets a per-day pre-slice
        // first — documented bound, not reachable on this data), then
        // churn_at = first predecessor whose successor is > 12 h away.
        // Consecutive differences of a sorted multiset are tie-order
        // independent, so dropping the (us, event_id) tiebreak cannot
        // move the result. Everything downstream is stratum-local and
        // DURATION-cardinality — the risk-set windows run over
        // (cohort, dur) rows, never subjects.
        val us = expr("unix_micros(ts)")
        val u = Tables.events(s, d).select(col("user_id"), us.as("us"))
          .groupBy(col("user_id"), (col("user_id") % 3).as("cohort"))
          .agg(min("us").as("first_us"), max("us").as("last_us"),
            sort_array(collect_list("us")).as("ts_arr"))
          .withColumn("churn_at", expr(
            // greatest(…, 0): slice throws on a negative length, which
            // an all-NULL-ts user would produce (collect_list skips
            // nulls) — the replaced lag form degraded to NULL there
            """array_min(filter(
              |  zip_with(slice(ts_arr, 1, greatest(size(ts_arr) - 1, 0)),
              |           slice(ts_arr, 2, greatest(size(ts_arr) - 1, 0)),
              |           (p, n) -> CASE WHEN n - p > 43200000000 THEN p END),
              |  x -> x IS NOT NULL))""".stripMargin))
        val uu = u.select(col("cohort"),
          expr("(coalesce(churn_at, last_us) - first_us) div 3600000000")
            .as("dur"),
          when(col("churn_at").isNull, 0).otherwise(1).as("ev"))
        val cnt = uu.groupBy("cohort", "dur")
          .agg(count(lit(1)).as("c"), sum("ev").as("d"))
        val wDesc = Window.partitionBy("cohort").orderBy(col("dur").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val w = cnt.select(col("cohort"), col("dur").as("t"), col("d"),
          sum("c").over(wDesc).as("n_risk"))
        val wAsc = Window.partitionBy("cohort").orderBy("t")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        w.filter(col("d") > 0 && col("d") < col("n_risk"))
          .withColumn("lnsum",
            sum(round(log(lit(1.0) - col("d").cast("double") / col("n_risk")), 6)
              .cast("decimal(18,6)")).over(wAsc))
          .select(col("cohort").cast("long").as("cohort"),
            col("t").cast("long").as("t"),
            col("n_risk").cast("long").as("n_risk"),
            col("d").cast("long").as("d"),
            round(exp(col("lnsum").cast("double")), 9).as("s"))
      }
    },

    // ---- W46: rolling distinct users via HLL sketch union ---------------------
    // The rolling-window aggregate that is NOT decomposable exactly:
    // 7-day distinct users per type. Exact rolling distinct re-scans
    // every window at 100 TB; the sketch plan builds ONE HLL per (type,
    // day) — stored state, the a26 pattern — and each window is a union
    // of 7 daily sketches (replicate each day sketch into the <= 7
    // target windows it serves; day-cardinality rows, so the explode is
    // free). The gate computes the exact rolling distinct beside it and
    // asserts the estimate lands within 5% (lgConfigK=14 ~ 0.8% RSE);
    // the oracle replays the exact side and the verdict.
    Query("w46_rolling_distinct",
      """WITH e AS (
        |  SELECT event_type,
        |         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |         user_id
        |  FROM events),
        |g AS (SELECT event_type, day + o.range AS tday, user_id
        |      FROM e CROSS JOIN range(0, 7) o)
        |SELECT event_type, CAST(tday AS BIGINT) AS day,
        |       count(DISTINCT user_id) AS exact_rolling,
        |       CAST(1 AS BOOLEAN) AS within_5pct
        |FROM g GROUP BY 1, 2""".stripMargin) {
      (s, d) => {
        val e = Tables.events(s, d).select(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"),
          col("user_id"))
        // production leg: the shared operator the posture harness times
        // (ScaleReplica's w46_production_sketch); the exact leg below is
        // the gate-SF-only verdict and is the n·log n cost the sketch
        // exists to avoid — never ship it past gate scale
        val est = graft.operators.Windows.rollingDistinctSketch(
          Tables.events(s, d))
        val exact = e
          .select(col("event_type"),
            explode(sequence(col("day"), col("day") + 6)).as("day"),
            col("user_id"))
          .groupBy("event_type", "day")
          .agg(countDistinct("user_id").as("exact_rolling"))
        exact.join(est, Seq("event_type", "day"))
          .select(col("event_type"), col("day"), col("exact_rolling"),
            (abs(col("est").cast("double")
              - col("exact_rolling").cast("double"))
              <= col("exact_rolling").cast("double") * 0.05).as("within_5pct"))
      }
    },

    // ---- W45: changepoint detection (binary segmentation, one split) -----------
    // WHERE did the level shift? w32's CUSUM alarms online; this is the
    // retrospective location estimate: over each type's daily series,
    // the split s maximizing the between-segment variance reduction
    // n_l*n_r/n * (mean_l - mean_r)^2. The numerator folds to ONE exact
    // integer per candidate ((S_l*n - S*n_l), micro-unit daily sums from
    // the a50 prep), so the only doubles are the final ratio — written
    // with the identical expression shape on both sides, argmax
    // tiebroken by day. One window pass over day-cardinality rows; the
    // data-sized work is the daily aggregate.
    Query("w45_changepoint",
      s"""WITH $DailyTypeMicros,
        |c AS (
        |  SELECT event_type, day,
        |         sum(q) OVER w AS sl,
        |         CAST(row_number() OVER w AS BIGINT) AS nl,
        |         sum(q) OVER (PARTITION BY event_type) AS s,
        |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |g AS (
        |  SELECT event_type, day, nl, n - nl AS nr,
        |         CAST(sl * n - s * nl AS DOUBLE) * CAST(sl * n - s * nl AS DOUBLE)
        |           / (CAST(nl AS DOUBLE) * CAST(n - nl AS DOUBLE)
        |              * CAST(n AS DOUBLE)) / 1000000000000.0 AS gain
        |  FROM c WHERE nl < n)
        |SELECT event_type, CAST(day AS BIGINT) AS split_day, nl AS n_left,
        |       nr AS n_right, round(gain, 6) AS gain
        |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |                                   ORDER BY gain DESC, day) AS rn
        |      FROM g) t WHERE rn = 1""".stripMargin) {
      (s, d) => {
        val daily = Temporal.dailyTypeSums(s, d)(micros(_).as("q"))
        val w = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wp = Window.partitionBy("event_type")
        val c = daily.select(col("event_type"), col("day"),
          sum("q").over(w).as("sl"),
          row_number().over(Window.partitionBy("event_type").orderBy("day"))
            .cast("long").as("nl"),
          sum("q").over(wp).as("s"),
          count(lit(1)).over(wp).cast("long").as("n"))
        // numerator in decimal(38,0): DuckDB sums BIGINT into HUGEINT, so
        // its sl*n - s*nl is exact int128 — LongType here would wrap
        // silently (non-ANSI) once micro-unit sums times day-count pass
        // 2^63; decimal(38,0) carries the same ~38-digit headroom and
        // rounds to double identically
        val num = col("sl").cast("decimal(38,0)") * col("n") -
          col("s").cast("decimal(38,0)") * col("nl")
        val g = c.filter(col("nl") < col("n"))
          .select(col("event_type"), col("day"), col("nl"),
            (col("n") - col("nl")).as("nr"),
            (num.cast("double") * num.cast("double")
              / (col("nl").cast("double") * (col("n") - col("nl")).cast("double")
                * col("n").cast("double")) / lit(1000000000000.0)).as("gain"))
        g.withColumn("rn", row_number().over(Window.partitionBy("event_type")
            .orderBy(col("gain").desc, col("day"))))
          .filter(col("rn") === 1)
          .select(col("event_type"), col("day").cast("long").as("split_day"),
            col("nl").as("n_left"), col("nr").as("n_right"),
            round(col("gain"), 6).as("gain"))
      }
    },

    Query("w44_rfm_scores",
      """WITH p AS (
        |  SELECT user_id,
        |         max(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS last_day,
        |         count(*) AS f,
        |         sum(CAST(round(value * 100) AS BIGINT)) AS m_cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |mx AS (SELECT max(last_day) AS maxd FROM p),
        |u AS (SELECT user_id, maxd - last_day AS r_days, f, m_cents FROM p, mx),
        |sc AS (SELECT user_id, r_days, f, m_cents,
        |              ntile(5) OVER (ORDER BY r_days, user_id) AS rs,
        |              ntile(5) OVER (ORDER BY f DESC, user_id) AS fs,
        |              ntile(5) OVER (ORDER BY m_cents DESC, user_id) AS ms
        |       FROM u)
        |SELECT user_id, CAST(r_days AS BIGINT) AS r_days, CAST(f AS BIGINT) AS f,
        |       CAST(m_cents AS BIGINT) AS m_cents,
        |       CAST(rs AS VARCHAR) || CAST(fs AS VARCHAR) || CAST(ms AS VARCHAR)
        |         AS rfm
        |FROM sc""".stripMargin) {
      (s, d) => {
        val p = Tables.events(s, d).filter(col("event_type") === "purchase")
          .groupBy("user_id")
          .agg(max(datediff(to_date(col("ts")), lit("1970-01-01")).cast("long"))
              .as("last_day"),
            count(lit(1)).as("f"),
            sum(round(col("value") * 100).cast("long")).as("m_cents"))
        val mx = p.agg(max("last_day").as("maxd"))
        val u = p.crossJoin(broadcast(mx))
          .select(col("user_id"), (col("maxd") - col("last_day")).as("r_days"),
            col("f"), col("m_cents"))
        val sc = u
          .withColumn("rs", ntile(5).over(Window.orderBy(col("r_days"), col("user_id"))))
          .withColumn("fs", ntile(5).over(Window.orderBy(col("f").desc, col("user_id"))))
          .withColumn("ms", ntile(5).over(Window.orderBy(col("m_cents").desc, col("user_id"))))
        sc.select(col("user_id"), col("r_days").cast("long").as("r_days"),
          col("f").cast("long").as("f"), col("m_cents").cast("long").as("m_cents"),
          concat(col("rs").cast("string"), col("fs").cast("string"),
            col("ms").cast("string")).as("rfm"))
      }
    },

    // ---- A50: Wald-Wolfowitz runs test ------------------------------------------
    // Is each type's daily series RANDOM around its median, or does it
    // cluster/trend? Signs come from the exact micro-unit median (two-
    // middle-rows trick, ties at the median drop — the standard rule),
    // the run count is a boundary-flag sum over one partitioned window,
    // and the normal approximation z = (R - mu)/sigma is a fixed-order
    // double epilogue on exact integer (R, n1, n2).
    // ---- A51: mergeable quantile sketch (KLL/MRL), bound-gated -----------------
    // The quantile member of the sketch family (a26 HLL distinct, a27
    // Misra-Gries heavy hitters): plans/KllSketch.scala, a
    // TypedImperativeAggregate whose level-ladder state is O(k log n/k)
    // doubles per group forever — the distributed-quantile path when
    // approx_percentile's opaque state can't be persisted or unioned.
    // Estimates depend on Spark's partial-merge order (any order is a
    // valid sketch), so the gate checks the GUARANTEE, not values: for
    // each group and fraction, the exact rank of the estimate must sit
    // within 5% of the target (worst-case bound at k=256 is ~1.6%).
    // The oracle is the literal verdict table — any bound violation, on
    // any merge order the gate run happens to produce, hash-mismatches.
    // One scan builds the sketches (the 'all' lane rides a 2x label
    // explode, not a second pass); the rank check joins the 18-row
    // estimate table back broadcast.
    Query("a51_sketch_quantiles",
      """SELECT * FROM (VALUES
        |  ('all', true, true, true), ('click', true, true, true),
        |  ('error', true, true, true), ('purchase', true, true, true),
        |  ('signup', true, true, true), ('view', true, true, true))
        |t(grp, p50_ok, p90_ok, p99_ok)""".stripMargin) {
      (s, d) => {
        val ev = Tables.events(s, d).select(
          explode(array(col("event_type"), lit("all"))).as("grp"),
          col("value").cast("double").as("v"))
        val fracs = Seq(0.5, 0.9, 0.99)
        val sk = ev.groupBy("grp")
          .agg(graft.plans.KllSketch(col("v"), 256, fracs).as("q"))
        val est = sk.select(col("grp"), posexplode(col("q")).as(Seq("i", "est")))
        val ranks = ev.join(broadcast(est), "grp")
          .groupBy("grp", "i", "est")
          .agg(count(lit(1)).as("n"),
            count(when(col("v") <= col("est"), 1)).as("le"))
        val f = when(col("i") === 0, 0.5).when(col("i") === 1, 0.9)
          .otherwise(0.99)
        val ok = abs(col("le") - f * col("n")) <= lit(0.05) * col("n")
        ranks.groupBy("grp").agg(
            min(when(col("i") === 0, ok)).as("p50_ok"),
            min(when(col("i") === 1, ok)).as("p90_ok"),
            min(when(col("i") === 2, ok)).as("p99_ok"))
      }
    },

    Query("a50_runs_test",
      s"""WITH $DailyTypeMicros,
        |r AS (SELECT event_type, day, q,
        |             row_number() OVER (PARTITION BY event_type ORDER BY q, day) AS rn,
        |             count(*) OVER (PARTITION BY event_type) AS m
        |      FROM d),
        |med AS (SELECT event_type, CAST(sum(q) * 2 // count(*) AS BIGINT) AS med2
        |        FROM r WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2 GROUP BY 1),
        |sg AS (SELECT d.event_type, day,
        |              CASE WHEN 2 * q > med2 THEN 1 ELSE 0 END AS s
        |       FROM d JOIN med ON d.event_type = med.event_type
        |       WHERE 2 * q <> med2),
        |runs AS (
        |  SELECT event_type,
        |         CAST(sum(CASE WHEN prev IS NULL OR prev <> s THEN 1 ELSE 0 END)
        |              AS BIGINT) AS r,
        |         CAST(sum(s) AS BIGINT) AS n1,
        |         CAST(sum(1 - s) AS BIGINT) AS n2
        |  FROM (SELECT event_type, s,
        |               lag(s) OVER (PARTITION BY event_type ORDER BY day) AS prev
        |        FROM sg)
        |  GROUP BY 1),
        |z AS (SELECT event_type, r, n1, n2,
        |             2.0 * n1 * n2 / (n1 + n2) + 1.0 AS mu
        |      FROM runs WHERE n1 > 0 AND n2 > 0 AND n1 + n2 > 1)
        |SELECT event_type, r AS n_runs, n1, n2,
        |       (r - mu) / sqrt((mu - 1.0) * (mu - 2.0) / (n1 + n2 - 1.0)) AS z
        |FROM z""".stripMargin) {
      (s, d) => {
        // median ranks + the sign pass share it; event type x day
        val daily = Materialize.small(Temporal.dailyTypeSums(s, d)(micros(_).as("q")))
        val wr = Window.partitionBy("event_type").orderBy("q", "day")
        val r = daily.withColumn("rn", row_number().over(wr))
          .withColumn("m", count(lit(1)).over(Window.partitionBy("event_type")))
        val med = r.filter(col("rn") === floor((col("m") + 1) / 2)
            || col("rn") === floor((col("m") + 2) / 2))
          .groupBy("event_type").agg(expr("(sum(q) * 2) div count(*)").as("med2"))
        val sg = daily.join(broadcast(med), "event_type")
          .filter(lit(2) * col("q") =!= col("med2"))
          .select(col("event_type"), col("day"),
            when(lit(2) * col("q") > col("med2"), 1).otherwise(0).as("s"))
        val wd = Window.partitionBy("event_type").orderBy("day")
        val runs = sg.withColumn("prev", lag("s", 1).over(wd))
          .groupBy("event_type")
          .agg(sum(when(col("prev").isNull || col("prev") =!= col("s"), 1)
              .otherwise(0)).cast("long").as("r"),
            sum("s").cast("long").as("n1"),
            sum(lit(1) - col("s")).cast("long").as("n2"))
        val mu = lit(2.0) * col("n1") * col("n2") / (col("n1") + col("n2")) + lit(1.0)
        runs.filter(col("n1") > 0 && col("n2") > 0 && col("n1") + col("n2") > 1)
          .withColumn("mu", mu)
          .select(col("event_type"), col("r").as("n_runs"), col("n1"), col("n2"),
            ((col("r") - col("mu")) / sqrt((col("mu") - lit(1.0))
              * (col("mu") - lit(2.0)) / (col("n1") + col("n2") - lit(1.0))))
              .as("z"))
      }
    },

    // ---- W43: peak detection (local maxima above a trailing baseline) -------------
    // Alert-worthy spikes: a day is a peak when it beats both neighbors
    // AND exceeds 1.2x the trailing-7-day mean — and the 1.2x test runs
    // in EXACT integers (35*q > 6*s7 <=> q > 1.2*s7/7), so no float
    // boundary anywhere. One window pass yields neighbors, the trailing
    // sum, and its count (full-window rows only).
    Query("w43_peak_detection",
      s"""WITH $DailyTypeMicros,
        |l AS (SELECT event_type, day, q,
        |             lag(q, 1) OVER w AS prev, lead(q, 1) OVER w AS nxt,
        |             sum(q) OVER (PARTITION BY event_type ORDER BY day
        |                          ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS s7,
        |             count(*) OVER (PARTITION BY event_type ORDER BY day
        |                            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS c7
        |      FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day))
        |SELECT event_type, CAST(day AS BIGINT) AS day,
        |       CAST(q AS DOUBLE) / 1000000.0 AS value
        |FROM l
        |WHERE prev IS NOT NULL AND nxt IS NOT NULL AND c7 = 7
        |  AND q > prev AND q > nxt AND 35 * q > 6 * s7""".stripMargin) {
      (s, d) => {
        val daily = Temporal.dailyTypeSums(s, d)(micros(_).as("q"))
        val w = Window.partitionBy("event_type").orderBy("day")
        val wt = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(-7, -1)
        daily.select(col("event_type"), col("day"), col("q"),
            lag("q", 1).over(w).as("prev"), lead("q", 1).over(w).as("nxt"),
            sum("q").over(wt).as("s7"), count(lit(1)).over(wt).as("c7"))
          .filter(col("prev").isNotNull && col("nxt").isNotNull && col("c7") === 7
            && col("q") > col("prev") && col("q") > col("nxt")
            && lit(35) * col("q") > lit(6) * col("s7"))
          .select(col("event_type"), col("day").cast("long").as("day"),
            (col("q").cast("double") / lit(1000000.0)).as("value"))
      }
    },

    // ---- W42: MACD momentum monitor -----------------------------------------------
    // Fast/slow EWMA crossover with a signal line — THREE coupled
    // recurrences (fast, slow, signal-of-macd) served by ONE
    // secondary-sort scan with three doubles of state
    // (Sessionize.macd). Dyadic alphas (1/2, 1/8, 1/4) keep every
    // (1-alpha) exact in binary, and the recursive-CTE oracle replays
    // the fold with the identical operation order, so all four series
    // hash-match bit-for-bit (the w18/w29/w36 recurrence contract).
    // Inputs are the micro-unit daily sums (exact integers as doubles).
    Query("w42_macd",
      """WITH RECURSIVE d AS (
        |  SELECT event_type,
        |         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |         CAST(CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |                         * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) AS x,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY datediff('day', DATE '1970-01-01',
        |                                              CAST(ts AS DATE))) AS rn
        |  FROM events GROUP BY 1, 2),
        |scan AS (
        |  SELECT event_type, rn, day, x AS fast, x AS slow,
        |         CAST(0 AS DOUBLE) AS macd, CAST(0 AS DOUBLE) AS sig
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT e.event_type, e.rn, e.day,
        |         0.5 * e.x + 0.5 * s.fast,
        |         0.125 * e.x + 0.875 * s.slow,
        |         (0.5 * e.x + 0.5 * s.fast) - (0.125 * e.x + 0.875 * s.slow),
        |         0.25 * ((0.5 * e.x + 0.5 * s.fast)
        |                 - (0.125 * e.x + 0.875 * s.slow)) + 0.75 * s.sig
        |  FROM d e JOIN scan s ON e.event_type = s.event_type AND e.rn = s.rn + 1)
        |SELECT event_type, CAST(day AS BIGINT) AS day, macd, sig,
        |       macd - sig AS divergence
        |FROM scan""".stripMargin) {
      (s, d) => {
        val daily = Temporal.dailyTypeSums(s, d)(micros(_).cast("double").as("x"))
        graft.operators.Sessionize.macd(daily, "event_type", "day", "x",
            aFast = 0.5, aSlow = 0.125, aSig = 0.25)
          .select(col("event_type"), col("day").cast("long").as("day"),
            col("macd"), col("sig"), (col("macd") - col("sig")).as("divergence"))
      }
    },

    // ---- G28: two-hop reach (friends-of-friends) -----------------------------------
    // Per node: how many DISTINCT nodes sit exactly two hops away
    // (reachable through a neighbor, not a neighbor itself, not self) —
    // the reach/influence metric recommendation pipelines precompute.
    // Middle nodes cap at degree <= 50 (the g23 hub rule, part of the
    // contract): a single hub would otherwise contribute deg^2 wedge
    // rows, and the cap bounds the join at any scale. Direct neighbors
    // drop via one anti join on the canonical edge key.
    Query("g28_two_hop_reach",
      s"""WITH ${OracleSnippets.coSupplierEdgeCtes("g28")},
        |adj AS (SELECT x AS u, y AS v FROM e UNION ALL SELECT y, x FROM e),
        |deg AS (SELECT u, count(*) AS dg FROM adj GROUP BY 1),
        |mid AS (SELECT adj.u, adj.v FROM adj JOIN deg ON adj.v = deg.u
        |        WHERE deg.dg <= 50),
        |hop2 AS (
        |  SELECT DISTINCT m.u, a.v AS w
        |  FROM mid m JOIN adj a ON m.v = a.u
        |  WHERE a.v <> m.u),
        |pure AS (
        |  SELECT u, w FROM hop2
        |  WHERE NOT EXISTS (SELECT 1 FROM e
        |                    WHERE e.x = least(u, w) AND e.y = greatest(u, w)))
        |SELECT CAST(deg.u AS BIGINT) AS node, CAST(dg AS BIGINT) AS deg,
        |       CAST(coalesce(n2, 0) AS BIGINT) AS two_hop
        |FROM deg LEFT JOIN (SELECT u, count(*) AS n2 FROM pure GROUP BY 1) p
        |  ON deg.u = p.u""".stripMargin) {
      (s, d) => {
        val e = Materialize.pin(coSupplierEdges(s, d, "g28")) // adjacency x2 + the anti join share it
        // degree, middle filter, and second hop share it
        val adj = Materialize.pin(e.select(col("x").as("u"), col("y").as("v"))
          .unionAll(e.select(col("y").as("u"), col("x").as("v"))))
        val deg = adj.groupBy("u").agg(count(lit(1)).as("dg"))
        val mid = adj.join(deg.toDF("vd", "dg2"), col("v") === col("vd"))
          .filter(col("dg2") <= 50).select("u", "v")
        val hop2 = mid.join(adj.toDF("v2", "w"), col("v") === col("v2"))
          .filter(col("w") =!= col("u"))
          .select("u", "w").distinct()
        val pure = hop2.join(
          e.select(least(col("x"), col("y")).as("cu"),
            greatest(col("x"), col("y")).as("cw")),
          least(col("u"), col("w")) === col("cu") &&
            greatest(col("u"), col("w")) === col("cw"), "left_anti")
        deg.join(pure.groupBy("u").agg(count(lit(1)).as("n2")).toDF("pu", "n2"),
            col("u") === col("pu"), "left")
          .select(col("u").cast("long").as("node"), col("dg").cast("long").as("deg"),
            coalesce(col("n2"), lit(0L)).cast("long").as("two_hop"))
      }
    },

    // ---- A49: trimmed + winsorized means -----------------------------------------
    // Robust location estimators for the anomaly battery: per segment,
    // the 5%-trimmed mean (drop k = floor(0.05 n) from each tail) and
    // the winsorized mean (CLAMP the tails to the surviving boundary
    // values instead of dropping them). Ranks come from one partitioned
    // window; the two boundary values broadcast back; every sum is an
    // exact BIGINT over cents with one double division per estimator.
    Query("a49_trimmed_mean",
      """WITH x AS (
        |  SELECT c_mktsegment AS seg, o_orderkey AS okey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS xc
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |r AS (SELECT seg, xc,
        |             row_number() OVER (PARTITION BY seg ORDER BY xc, okey) AS rn,
        |             count(*) OVER (PARTITION BY seg) AS n
        |      FROM x),
        |k AS (SELECT seg, n, CAST(floor(0.05 * n) AS BIGINT) AS k
        |      FROM (SELECT DISTINCT seg, n FROM r)),
        |bounds AS (
        |  SELECT r.seg,
        |         min(CASE WHEN rn = k.k + 1 THEN xc END) AS lo,
        |         min(CASE WHEN rn = k.n - k.k THEN xc END) AS hi
        |  FROM r JOIN k ON r.seg = k.seg GROUP BY 1),
        |agg AS (
        |  SELECT r.seg, k.n, k.k,
        |         sum(xc) AS s_all,
        |         sum(CASE WHEN rn > k.k AND rn <= k.n - k.k THEN xc ELSE 0 END)
        |           AS s_trim,
        |         sum(CASE WHEN rn <= k.k THEN lo
        |                  WHEN rn > k.n - k.k THEN hi ELSE xc END) AS s_win
        |  FROM r JOIN k ON r.seg = k.seg JOIN bounds b ON r.seg = b.seg
        |  GROUP BY 1, 2, 3)
        |SELECT seg, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_trimmed,
        |       CAST(s_all AS DOUBLE) / n AS mean_cents,
        |       CAST(s_trim AS DOUBLE) / (n - 2 * k) AS trimmed_cents,
        |       CAST(s_win AS DOUBLE) / n AS winsorized_cents
        |FROM agg""".stripMargin) {
      (s, d) => {
        val x = Tables.orders(s, d)
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("seg"), col("o_orderkey").as("okey"),
            round(col("o_totalprice") * 100).cast("long").as("xc"))
        // bounds + the clamped agg share the rank pass
        val r = Materialize.pin(x.withColumn("rn",
            row_number().over(Window.partitionBy("seg").orderBy("xc", "okey")))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("seg")))
          .withColumn("k", floor(lit(0.05) * col("n")).cast("long")))
        val bounds = r.groupBy("seg").agg(
          min(when(col("rn") === col("k") + 1, col("xc"))).as("lo"),
          min(when(col("rn") === col("n") - col("k"), col("xc"))).as("hi"))
        r.join(broadcast(bounds), "seg")
          .groupBy("seg", "n", "k")
          .agg(sum("xc").as("s_all"),
            sum(when(col("rn") > col("k") && col("rn") <= col("n") - col("k"),
              col("xc")).otherwise(0L)).as("s_trim"),
            sum(when(col("rn") <= col("k"), col("lo"))
              .when(col("rn") > col("n") - col("k"), col("hi"))
              .otherwise(col("xc"))).as("s_win"))
          .select(col("seg"), col("n").cast("long").as("n"),
            col("k").cast("long").as("k_trimmed"),
            (col("s_all").cast("double") / col("n")).as("mean_cents"),
            (col("s_trim").cast("double") / (col("n") - lit(2) * col("k")))
              .as("trimmed_cents"),
            (col("s_win").cast("double") / col("n")).as("winsorized_cents"))
      }
    },

    // ---- W41: Savitzky-Golay smoothing ------------------------------------------
    // The FIR smoother (7-point quadratic kernel [-2,3,6,7,6,3,-2]/21)
    // signal pipelines prefer over moving averages — it preserves peaks
    // a flat window flattens. Inputs quantize to micro-units FIRST
    // (a43's rule), so the convolution is exact BIGINT arithmetic; the
    // single division by 21e6 is the only float op. Seven lag/lead
    // columns come out of ONE window pass; edges (any missing neighbor)
    // emit nothing rather than a biased partial kernel.
    Query("w41_savitzky_golay",
      s"""WITH $DailyTypeMicros,
        |l AS (SELECT event_type, day, q,
        |             lag(q, 3) OVER w AS l3, lag(q, 2) OVER w AS l2,
        |             lag(q, 1) OVER w AS l1, lead(q, 1) OVER w AS r1,
        |             lead(q, 2) OVER w AS r2, lead(q, 3) OVER w AS r3
        |      FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day))
        |SELECT event_type, CAST(day AS BIGINT) AS day,
        |       CAST(q AS DOUBLE) / 1000000.0 AS raw,
        |       CAST(-2*l3 + 3*l2 + 6*l1 + 7*q + 6*r1 + 3*r2 - 2*r3 AS DOUBLE)
        |         / 21.0 / 1000000.0 AS smooth
        |FROM l
        |WHERE l3 IS NOT NULL AND r3 IS NOT NULL""".stripMargin) {
      (s, d) => {
        val daily = Temporal.dailyTypeSums(s, d)(micros(_).as("q"))
        val w = Window.partitionBy("event_type").orderBy("day")
        val l = daily.select(col("event_type"), col("day"), col("q"),
          lag("q", 3).over(w).as("l3"), lag("q", 2).over(w).as("l2"),
          lag("q", 1).over(w).as("l1"), lead("q", 1).over(w).as("r1"),
          lead("q", 2).over(w).as("r2"), lead("q", 3).over(w).as("r3"))
        l.filter(col("l3").isNotNull && col("r3").isNotNull)
          .select(col("event_type"), col("day").cast("long").as("day"),
            (col("q").cast("double") / lit(1000000.0)).as("raw"),
            ((lit(-2) * col("l3") + lit(3) * col("l2") + lit(6) * col("l1")
              + lit(7) * col("q") + lit(6) * col("r1") + lit(3) * col("r2")
              - lit(2) * col("r3")).cast("double") / lit(21.0) / lit(1000000.0))
              .as("smooth"))
      }
    },

    // ---- A48: Kendall tau-b on a bounded deterministic sample --------------------
    // The third rank-correlation view (a29 Pearson: linear; a44
    // Spearman: monotone by rank): Kendall counts concordant vs
    // discordant PAIRS — O(n²), so the pattern at scale is a BOUNDED
    // DETERMINISTIC sample per group (first 200 orders by key, ~20k
    // pairs/group) rather than the full set; the sample rule is part of
    // the contract and the oracle replays it. All pair classification
    // is integer sign comparison; tau-b's tie-corrected denominator is
    // one double epilogue.
    Query("a48_kendall_tau",
      """WITH pairs0 AS (
        |  SELECT c_mktsegment AS seg, o.o_orderkey AS k,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS x, count(*) AS y
        |  FROM orders o JOIN customer ON o_custkey = c_custkey
        |                JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2, 3),
        |samp AS (SELECT * FROM (
        |           SELECT seg, k, x, y,
        |                  row_number() OVER (PARTITION BY seg ORDER BY k) AS rn
        |           FROM pairs0) WHERE rn <= 200),
        |pp AS (SELECT a.seg,
        |              CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END AS conc,
        |              CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END AS disc,
        |              CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
        |              CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
        |       FROM samp a JOIN samp b ON a.seg = b.seg AND a.k < b.k),
        |s AS (SELECT seg, count(*) AS n0, sum(conc) AS nc, sum(disc) AS nd,
        |             sum(tx) AS n1, sum(ty) AS n2
        |      FROM pp GROUP BY 1)
        |SELECT seg, CAST(n0 AS BIGINT) AS n_pairs,
        |       CAST(nc AS BIGINT) AS concordant, CAST(nd AS BIGINT) AS discordant,
        |       CAST(nc - nd AS DOUBLE)
        |         / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE))
        |         AS tau_b
        |FROM s""".stripMargin) {
      (s, d) => {
        // same pre-aggregation as a44: y is lines-per-order, so the
        // fact table aggregates map-side BEFORE the join
        val lc = Tables.lineitem(s, d).groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("y"))
        val pairs0 = Tables.orders(s, d)
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(lc, col("l_orderkey") === col("o_orderkey"))
          .select(col("c_mktsegment").as("seg"), col("o_orderkey").as("k"),
            round(col("o_totalprice") * 100).cast("long").as("x"), col("y"))
        // both self-join legs share the sample: top 200 per segment
        val samp = Materialize.small(pairs0.withColumn("rn",
            row_number().over(Window.partitionBy("seg").orderBy("k")))
          .filter(col("rn") <= 200).select("seg", "k", "x", "y"))
        val pp = samp.toDF("seg", "ka", "xa", "ya")
          .join(samp.toDF("seg2", "kb", "xb", "yb"),
            col("seg") === col("seg2") && col("ka") < col("kb"))
          .select(col("seg"),
            when((col("xa") - col("xb")) * (col("ya") - col("yb")) > 0, 1)
              .otherwise(0).as("conc"),
            when((col("xa") - col("xb")) * (col("ya") - col("yb")) < 0, 1)
              .otherwise(0).as("disc"),
            when(col("xa") === col("xb"), 1).otherwise(0).as("tx"),
            when(col("ya") === col("yb"), 1).otherwise(0).as("ty"))
        pp.groupBy("seg")
          .agg(count(lit(1)).as("n0"), sum("conc").as("nc"), sum("disc").as("nd"),
            sum("tx").as("n1"), sum("ty").as("n2"))
          .select(col("seg"), col("n0").cast("long").as("n_pairs"),
            col("nc").cast("long").as("concordant"),
            col("nd").cast("long").as("discordant"),
            ((col("nc") - col("nd")).cast("double")
              / sqrt((col("n0") - col("n1")).cast("double")
                * (col("n0") - col("n2")).cast("double"))).as("tau_b"))
      }
    },

    // ---- A47: bootstrap confidence interval -------------------------------------
    // Nonparametric CI for the per-segment mean order value: 40 seeded
    // bootstrap replicates, each resampling the segment WITH REPLACEMENT
    // via an md5 index draw (replayable, the p16 seed convention), CI =
    // nearest-rank 2nd/39th replicate means (~95%). Everything is exact
    // integers — cents sums as BIGINT, one double division per mean —
    // and the replicate rank orders by (mean, b). Shapes: one per-seg
    // rank window indexes the rows once; the 40x draw explode joins back
    // by (seg, index) — the resample never copies row payloads, only
    // 8-byte indices, which is what keeps B x N tractable at scale.
    Query("a47_bootstrap_ci",
      """WITH x AS (
        |  SELECT c_mktsegment AS seg, o_orderkey AS okey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS xc
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |r AS (SELECT seg, xc,
        |             row_number() OVER (PARTITION BY seg ORDER BY okey) AS i,
        |             count(*) OVER (PARTITION BY seg) AS n
        |      FROM x),
        |draws AS (
        |  SELECT seg, n, b.range AS b,
        |         1 + CAST('0x' || substr(md5(seg || '#' || CAST(b.range AS VARCHAR)
        |                                     || '#' || CAST(i AS VARCHAR)), 1, 8)
        |                 AS BIGINT) % n AS idx
        |  FROM r CROSS JOIN range(0, 40) b),
        |rep AS (
        |  SELECT d.seg, d.b, CAST(sum(r2.xc) AS BIGINT) AS s, d.n
        |  FROM draws d JOIN r r2 ON d.seg = r2.seg AND d.idx = r2.i
        |  GROUP BY 1, 2, 4),
        |rm AS (SELECT seg, b, CAST(s AS DOUBLE) / n AS m FROM rep),
        |rk AS (SELECT seg, m,
        |              row_number() OVER (PARTITION BY seg ORDER BY m, b) AS rn
        |       FROM rm),
        |pt AS (SELECT seg, CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(xc) AS DOUBLE) / count(*) AS mean_cents
        |       FROM x GROUP BY 1)
        |SELECT pt.seg, pt.n, pt.mean_cents,
        |       min(CASE WHEN rn = 2 THEN m END) AS ci_lo,
        |       min(CASE WHEN rn = 39 THEN m END) AS ci_hi
        |FROM pt JOIN rk ON pt.seg = rk.seg
        |GROUP BY 1, 2, 3""".stripMargin) {
      (s, d) => {
        val x = Tables.orders(s, d)
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("seg"), col("o_orderkey").as("okey"),
            round(col("o_totalprice") * 100).cast("long").as("xc"))
        // draw explode + the index join-back share it
        val r = Materialize.pin(x.withColumn("i",
            row_number().over(Window.partitionBy("seg").orderBy("okey")))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("seg")))
          .select("seg", "xc", "i", "n"))
        // the rank window leaves r hash-partitioned by seg — 5 live
        // partitions — and the 40x explode + 6M md5 draws would inherit
        // that parallelism; round-robin the narrow index rows first
        // (150k x 25 B, the cheapest shuffle in the plan). 2x the
        // cluster's core count, not a literal: the fan-out must track
        // the executor fleet, not this sandbox's local[32]
        val fanout = s.sparkContext.defaultParallelism * 2
        val draws = r.repartition(fanout).select(col("seg"), col("n"), col("i"),
            explode(sequence(lit(0), lit(39))).as("b"))
          .select(col("seg"), col("n"), col("b"),
            (lit(1) + conv(substring(md5(concat(col("seg"), lit("#"),
              col("b").cast("string"), lit("#"), col("i").cast("string"))),
              1, 8), 16, 10).cast("long") % col("n")).as("idx"))
        val rep = draws
          // r is narrow (seg, index, cents = ~25 B/row) and
          // localCheckpointed, so AQE sees its TRUE size: below the 64 MB
          // threshold it broadcasts (gate/bench scale), beyond it the
          // shuffle join wins — the 100x smoke measured a FORCED
          // broadcast shipping a 375 MB build side, so no hint here
          .join(r.select(col("seg").as("s2"), col("i").as("i2"), col("xc")),
            col("seg") === col("s2") && col("idx") === col("i2"))
          .groupBy("seg", "b", "n").agg(sum("xc").cast("long").as("s"))
        val rk = rep.select(col("seg"), col("b"),
            (col("s").cast("double") / col("n")).as("m"))
          .withColumn("rn",
            row_number().over(Window.partitionBy("seg").orderBy("m", "b")))
        val pt = x.groupBy("seg")
          .agg(count(lit(1)).cast("long").as("n"),
            (sum("xc").cast("double") / count(lit(1))).as("mean_cents"))
        pt.join(rk, "seg")
          .groupBy("seg", "n", "mean_cents")
          .agg(min(when(col("rn") === 2, col("m"))).as("ci_lo"),
            min(when(col("rn") === 39, col("m"))).as("ci_hi"))
          .select("seg", "n", "mean_cents", "ci_lo", "ci_hi")
      }
    },

    // ---- W39: rolling 7-day correlation -----------------------------------------
    // Does a type's daily VOLUME track its daily VALUE? Trailing-7-day
    // Pearson correlation between each type's daily event count and its
    // daily value sum. Both series quantize FIRST (value sums to
    // milli-units; counts are already integers) and every window moment
    // — sum x, sum y, sum x², sum y², sum xy — is then an exact BIGINT
    // sum over the quantized integers, so the window's internal
    // accumulation order (Spark buffers vs DuckDB segment trees) can
    // never move a bit; the corr formula is one fixed-order double
    // epilogue per row. Zero-variance windows (constant counts over a
    // quiet week) emit nothing rather than 0/0.
    Query("w39_rolling_corr",
      """WITH d AS (
        |  SELECT event_type,
        |         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |         CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |                    * 1000.0 + 0.5) AS BIGINT) AS qx,
        |         count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day,
        |             count(*) OVER win AS cnt,
        |             sum(qx) OVER win AS sx, sum(y) OVER win AS sy,
        |             sum(qx * qx) OVER win AS sxx, sum(y * y) OVER win AS syy,
        |             sum(qx * y) OVER win AS sxy
        |      FROM d
        |      WINDOW win AS (PARTITION BY event_type ORDER BY day
        |                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |v AS (SELECT event_type, day,
        |             7.0 * CAST(sxy AS DOUBLE)
        |               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
        |             7.0 * CAST(sxx AS DOUBLE)
        |               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
        |             7.0 * CAST(syy AS DOUBLE)
        |               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
        |      FROM w WHERE cnt = 7)
        |SELECT event_type, CAST(day AS BIGINT) AS day,
        |       cov / sqrt(vx * vy) AS corr_vol_val
        |FROM v WHERE vx > 0 AND vy > 0""".stripMargin) {
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(col("event_type"),
            datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"))
          .agg(
            floor(sum(col("value").cast("decimal(18,4)")).cast("double")
              * lit(1000.0) + lit(0.5)).cast("long").as("qx"),
            count(lit(1)).as("y"))
        val win = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(-6, Window.currentRow)
        val w = daily.select(col("event_type"), col("day"),
          count(lit(1)).over(win).as("cnt"),
          sum("qx").over(win).as("sx"), sum("y").over(win).as("sy"),
          sum(col("qx") * col("qx")).over(win).as("sxx"),
          sum(col("y") * col("y")).over(win).as("syy"),
          sum(col("qx") * col("y")).over(win).as("sxy"))
        val v = w.filter(col("cnt") === 7).select(col("event_type"), col("day"),
          (lit(7.0) * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double")).as("cov"),
          (lit(7.0) * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")).as("vx"),
          (lit(7.0) * col("syy").cast("double")
            - col("sy").cast("double") * col("sy").cast("double")).as("vy"))
        v.filter(col("vx") > 0 && col("vy") > 0)
          .select(col("event_type"), col("day").cast("long").as("day"),
            (col("cov") / sqrt(col("vx") * col("vy"))).as("corr_vol_val"))
      }
    },

    // ---- W40: linear interpolation over a date spine ------------------------------
    // Gap filling for sparse per-entity series (the imputation step a
    // downstream model expects): each supplier's daily revenue series is
    // observed on ~25% of days; the spine (r15 pattern, per-supplier
    // min..max) fills the rest by linear interpolation between the
    // bracketing observations. Carried state is four ignore-null window
    // columns (prev/next value+day) over ONE partitioned pass — no
    // self-join, no explode beyond the spine itself. Observed cents are
    // exact BIGINT; the interpolated value is one fixed-order double
    // expression on exact ints, identical in both engines.
    Query("w40_interpolate_gaps",
      """WITH dly AS (
        |  SELECT l_suppkey AS s,
        |         datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS day,
        |         sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS xc
        |  FROM lineitem GROUP BY 1, 2),
        |b AS (SELECT s, min(day) AS mn, max(day) AS mx FROM dly GROUP BY 1),
        |spine AS (SELECT s, unnest(generate_series(mn, mx)) AS day FROM b),
        |j AS (SELECT spine.s, spine.day, dly.xc
        |      FROM spine LEFT JOIN dly ON spine.s = dly.s AND spine.day = dly.day),
        |f AS (SELECT s, day, xc,
        |        last_value(xc IGNORE NULLS) OVER wp AS xp,
        |        last_value(CASE WHEN xc IS NOT NULL THEN day END IGNORE NULLS)
        |          OVER wp AS dp,
        |        first_value(xc IGNORE NULLS) OVER wn AS xn,
        |        first_value(CASE WHEN xc IS NOT NULL THEN day END IGNORE NULLS)
        |          OVER wn AS dn
        |      FROM j
        |      WINDOW wp AS (PARTITION BY s ORDER BY day
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |             wn AS (PARTITION BY s ORDER BY day
        |                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT CAST(s AS BIGINT) AS suppkey, CAST(day AS BIGINT) AS day,
        |       CASE WHEN xc IS NOT NULL THEN 'obs' ELSE 'interp' END AS src,
        |       CASE WHEN xc IS NOT NULL THEN CAST(xc AS DOUBLE)
        |            ELSE CAST(xp AS DOUBLE)
        |                 + (CAST(xn AS DOUBLE) - CAST(xp AS DOUBLE))
        |                   * (day - dp) / (dn - dp) END AS cents
        |FROM f""".stripMargin) {
      (s, d) => {
        // Round-14 shape: the spine NEVER materializes as an input.
        // Every interpolated day lies in exactly one gap between
        // CONSECUTIVE observations, so one obs-sized lead() window
        // yields the bracketing pair and a narrow explode generates the
        // gap days with the interpolation formula inline — no
        // spine×obs left join, no two spine-sized IGNORE NULLS window
        // passes, and no fan-out pinning (the round-12 form needed an
        // explicit repartition because AQE coalesced the tiny bounds
        // agg to ONE task and the whole 2.5M-row pipeline ran serial,
        // measured 97 s; this form's explode inherits the window's
        // supplier partitioning). Output is identical: first obs per
        // gap emits 'obs' with its own value, the rest interpolate
        // against the pair in the oracle's exact double op order.
        val dly = Tables.lineitem(s, d)
          .groupBy(col("l_suppkey").as("s"),
            datediff(to_date(col("l_shipdate")), lit("1970-01-01"))
              .cast("long").as("day"))
          .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("xc"))
        val w = Window.partitionBy("s").orderBy("day")
        val pairs = dly.select(col("s"), col("day").as("d0"), col("xc"),
          lead("day", 1).over(w).as("nd"), lead("xc", 1).over(w).as("nx"))
        pairs
          .select(col("s"), col("d0"), col("xc"), col("nd"), col("nx"),
            explode(sequence(col("d0"),
              coalesce(col("nd") - 1, col("d0")))).as("day"))
          .select(col("s").cast("long").as("suppkey"),
            col("day").cast("long").as("day"),
            when(col("day") === col("d0"), lit("obs"))
              .otherwise(lit("interp")).as("src"),
            when(col("day") === col("d0"), col("xc").cast("double"))
              .otherwise(col("xc").cast("double")
                + (col("nx").cast("double") - col("xc").cast("double"))
                  * (col("day") - col("d0")) / (col("nd") - col("d0")))
              .as("cents"))
      }
    }
  )

  /** w26/w31 shared oracle: trailing-6h exact-moment z-score outliers. */
  private[queries] lazy val RollingZscoreOracleSql: String =
    """WITH m AS (
        |  SELECT event_id, event_type, value,
        |         sum(CAST(value AS DECIMAL(18,4))) OVER w AS s1,
        |         sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) OVER w AS s2,
        |         count(*) OVER w AS n
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
        |               RANGE BETWEEN 21600000000 PRECEDING AND CURRENT ROW)),
        |z AS (
        |  SELECT event_id, event_type, value, n,
        |         CAST(s1 AS DOUBLE) / n AS mean,
        |         sqrt(greatest(CAST(s2 AS DOUBLE) / n
        |              - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 0.0)) AS sd
        |  FROM m)
        |SELECT event_id, event_type, round(value, 6) AS value,
        |       CAST(n AS BIGINT) AS n_window,
        |       round((value - mean) / sd, 6) AS z
        |FROM z WHERE n >= 12 AND sd > 0 AND abs((value - mean) / sd) > 2.5""".stripMargin

  /** w26/w31 shared engine body: trailing moments either via the
    * two-level hour-bucket decomposition (bucketed = the production
    * path, frame-density-independent cost) or the definitional sliding
    * RANGE frame (per-row re-aggregation). Identical results —
    * RollingMomentsSpec pins the equivalence including frame-edge ties. */
  private def rollingZscore(s: org.apache.spark.sql.SparkSession, d: String,
                            bucketed: Boolean): org.apache.spark.sql.DataFrame = {
        val m = if (bucketed) {
          graft.operators.RollingMoments.trailingMoments(
              Tables.events(s, d).select(col("event_id"), col("event_type"),
                col("value"), unix_micros(col("ts")).as("us")),
              "event_type", "us", "value", 21600000000L, 3600000000L)
            .select(col("event_id"), col("event_type"), col("value"),
              col("s1"), col("s2"), col("n"))
        } else {
          val w = Window.partitionBy("event_type").orderBy(unix_micros(col("ts")))
            .rangeBetween(-21600000000L, 0L)
          val vd = col("value").cast("decimal(18,4)")
          Tables.events(s, d).select(col("event_id"), col("event_type"),
            col("value"),
            sum(vd).over(w).as("s1"), sum(vd * vd).over(w).as("s2"),
            count(lit(1)).over(w).as("n"))
        }
        val mean = col("s1").cast("double") / col("n")
        val sd = sqrt(greatest(col("s2").cast("double") / col("n") - mean * mean,
          lit(0.0)))
        m.select(col("event_id"), col("event_type"), col("value"), col("n"),
            mean.as("mean"), sd.as("sd"))
          .filter(col("n") >= 12 && col("sd") > 0 &&
            abs((col("value") - col("mean")) / col("sd")) > 2.5)
          .select(col("event_id"), col("event_type"),
            round(col("value"), 6).as("value"),
            col("n").cast("long").as("n_window"),
            round((col("value") - col("mean")) / col("sd"), 6).as("z"))
  }
}
