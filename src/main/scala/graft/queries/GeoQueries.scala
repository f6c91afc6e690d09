package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Materialize, Query, Tables}
import graft.functions.Geo
import OracleSnippets.{diamondEdgeDist, diamondInside, diamondPoints, gridKmCtes}

/** Geospatial operators (SURVEY.md §2.8) over synthetic point/polygon
  * geometry derived from the testdata.
  *
  * j09 IS oracle-checked: the oracle re-states the ray-cast crossing
  * test and the clamped point-to-segment fallback for the literal
  * diamond fixture, edge by edge, in SQL over the SAME doubles — every
  * operation involved (+,-,*,/, fmod, sqrt, comparisons) is
  * correctly-rounded IEEE, so both engines compute bit-identical
  * geometry and the assignment counts hash-match (boundary points and
  * the d ≤ buffer tie rule included). j12 (haversine nearest facility)
  * likewise. GeoSpec pins the general-polygon semantics (concavity,
  * arbitrary vertex loops) the fixture-specific SQL cannot cover.
  */
object GeoQueries {

  /** 25 diamond (rotated-square) cells tiling [0,10)²: centers at odd
    * integer coordinates, circumradius 1 — concavity-free but
    * non-axis-aligned, so containment exercises real ray casting.
    */
  private[queries] def diamonds: Seq[Geo.Poly] =
    (for (ci <- 0 until 5; cj <- 0 until 5) yield {
      val (cx, cy) = (ci * 2 + 1.0, cj * 2 + 1.0)
      Geo.Poly(ci * 5 + cj,
        Array(cx, cx + 1, cx, cx - 1), Array(cy - 1, cy, cy + 1, cy))
    })

  /** Customer c as the point ((c % 100)/10, ((c/100) % 100)/10) beside
    * `key` (j09, w04, g04; oracle twin `OracleSnippets.diamondPoints`). */
  private[queries] def custPoints(s: SparkSession, d: String, key: Column): DataFrame =
    Tables.customer(s, d)
      .select(key,
        ((col("c_custkey") % 100) / 10.0).as("x"),
        (((col("c_custkey") / 100) % 100) / 10.0).as("y"))

  /** j24's grid join, shared by j25: customers as integer micro-unit
    * points in 3000 u cells, joined on (cx, cy) to every point's 3x3
    * cell replicas (`rid`, `rux`, `ruy`), kept where `pair` holds and
    * the haversine `km` is at most 3. The oracle twin is
    * `OracleSnippets.gridKmCtes`. */
  private[queries] def gridPairs(s: SparkSession, d: String, pair: Column): DataFrame = {
    val base = Tables.customer(s, d).select(col("c_custkey").as("id"),
      (lit(3400000L) + (col("c_custkey") % 40) * 2000L).as("ux"),
      (lit(-400000L) + ((col("c_custkey").cast("long") / 40).cast("long") % 40)
        * 2000L).as("uy"))
      .select(col("id"), col("ux"), col("uy"),
        floor(col("ux") / 3000.0).cast("long").as("cx"),
        floor(col("uy") / 3000.0).cast("long").as("cy"))
    val r = base.select(col("id").as("rid"), col("ux").as("rux"),
        col("uy").as("ruy"),
        explode(array(col("cx") - 1, col("cx"), col("cx") + 1)).as("cx"),
        col("cy"))
      .select(col("rid"), col("rux"), col("ruy"), col("cx"),
        explode(array(col("cy") - 1, col("cy"), col("cy") + 1)).as("cy"))
    val km = Geo.haversineKm(
      col("ux") / 100000.0, col("uy") / 100000.0,
      col("rux") / 100000.0, col("ruy") / 100000.0)
    base.join(r, Seq("cx", "cy")).filter(pair)
      .withColumn("km", km).filter(col("km") <= 3.0)
  }

  val queries: Seq[Query] = Seq(

    // ---- J9: point-in-polygon cluster assignment ---------------------------
    // Customer points at ((custkey%100)/10, ((custkey/100)%100)/10); count
    // per assigned diamond cell (0.05° buffered fallback), nulls = outside.
    // Oracle: the same even-odd crossing test per edge (min id wins =
    // first containing), then the clamped point-to-segment distance
    // fallback (min distance, larger id wins exact ties = the loop's
    // d <= best update rule) — all IEEE ops, bit-identical cross-engine.
    Query("j09_point_in_polygon",
      s"""WITH ${diamondPoints("pts", "c_custkey")},
        |${diamondInside("pts", "c_custkey", "mid")},
        |${diamondEdgeDist("pts", "c_custkey")},
        |fb AS (
        |  SELECT c_custkey, id FROM (
        |    SELECT c_custkey, id, row_number() OVER (PARTITION BY c_custkey ORDER BY ed ASC, id DESC) AS rn
        |    FROM dist WHERE ed <= 0.05)
        |  WHERE rn = 1),
        |assign AS (
        |  SELECT p.c_custkey, COALESCE(i.mid, f.id) AS geo_cluster
        |  FROM pts p LEFT JOIN inside i USING (c_custkey) LEFT JOIN fb f USING (c_custkey))
        |SELECT geo_cluster, count(*) AS n FROM assign GROUP BY 1""".stripMargin) { (s, d) =>
      val assign = Geo.clusterAssigner(s, diamonds, bufferDeg = 0.05)
      custPoints(s, d, col("c_custkey"))
        .withColumn("geo_cluster", assign(col("x"), col("y")))
        .groupBy("geo_cluster").agg(count(lit(1)).as("n"))
    },

    // ---- W4: priority by spatial order --------------------------------------
    // The reference ranks households by distance to their cluster's edge,
    // deepest first (randomize.R:1104-1114): assign each point a diamond
    // cell, compute distance to that cell's boundary, rank desc within
    // the cell. Oracle: same IEEE restatement as j09 (containment via
    // crossing test, clamped point-to-segment distance), ranked on the
    // 9-dp-rounded distance with the custkey tiebreak.
    Query("w04_spatial_priority",
      s"""WITH ${diamondPoints("pts", "c_custkey")},
        |${diamondInside("pts", "c_custkey", "mid")},
        |${diamondEdgeDist("pts", "c_custkey")}
        |SELECT geo_cluster, priority, c_custkey, edge_dist FROM (
        |  SELECT i.mid AS geo_cluster, p.c_custkey,
        |         round(dd.ed, 9) AS edge_dist,
        |         CAST(row_number() OVER (PARTITION BY i.mid ORDER BY round(dd.ed, 9) DESC, p.c_custkey) AS INT) AS priority
        |  FROM pts p JOIN inside i USING (c_custkey)
        |  JOIN dist dd ON dd.c_custkey = p.c_custkey AND dd.id = i.mid)
        |WHERE priority <= 5""".stripMargin) { (s, d) =>
      val assign = Geo.clusterAssigner(s, diamonds, bufferDeg = 0.0)
      val edge = Geo.edgeDistanceUdf(s, diamonds)
      val w = Window.partitionBy("geo_cluster")
        .orderBy(col("edge_dist").desc, col("c_custkey"))
      custPoints(s, d, col("c_custkey"))
        .withColumn("geo_cluster", assign(col("x"), col("y")))
        .filter(col("geo_cluster").isNotNull)
        .withColumn("edge_dist", round(edge(col("geo_cluster"), col("x"), col("y")), 9))
        .withColumn("priority", row_number().over(w))
        .filter(col("priority") <= 5)
        .select("geo_cluster", "priority", "c_custkey", "edge_dist")
    },

    // ---- J12-geo: nearest facility by haversine ----------------------------
    // Suppliers as facilities on a deterministic lon/lat grid around
    // Kenya; customers to nearest facility. Distance rounded to 6 dp so
    // sub-ulp libm differences cannot flip the string compare; ordering
    // uses the raw double (identical on both engines for these inputs)
    // with the facility id as tiebreaker.
    Query("j12_haversine_nearest",
      """WITH pts AS (
        |  SELECT c_custkey, 34.0 + (c_custkey % 70) * 0.1 AS lon,
        |         -4.0 + ((c_custkey // 70) % 70) * 0.1 AS lat
        |  FROM customer),
        |fac AS (
        |  SELECT s_suppkey, 34.0 + (s_suppkey % 8) * 1.013 AS flon,
        |         -4.0 + ((s_suppkey // 8) % 8) * 0.987 AS flat
        |  FROM supplier WHERE s_suppkey < 64),
        |d AS (
        |  SELECT c_custkey, s_suppkey,
        |         2 * 6371.0088 * atan2(
        |           sqrt(pow(sin(radians(flat - lat) / 2), 2)
        |                + cos(radians(lat)) * cos(radians(flat))
        |                  * pow(sin(radians(flon - lon) / 2), 2)),
        |           sqrt(1 - (pow(sin(radians(flat - lat) / 2), 2)
        |                + cos(radians(lat)) * cos(radians(flat))
        |                  * pow(sin(radians(flon - lon) / 2), 2)))) AS km
        |  FROM pts CROSS JOIN fac)
        |SELECT c_custkey, s_suppkey AS nearest_fac, round(km, 6) AS km
        |FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY km, s_suppkey) AS rn
        |      FROM d) WHERE rn = 1""".stripMargin) {
      (s, d) => {
        val pts = Tables.customer(s, d).select(col("c_custkey"),
          (lit(34.0) + (col("c_custkey") % 70) * 0.1).as("lon"),
          (lit(-4.0) + ((col("c_custkey").cast("long") / 70).cast("long") % 70) * 0.1).as("lat"))
        val fac = Tables.supplier(s, d).filter(col("s_suppkey") < 64)
          .select(col("s_suppkey"),
            (lit(34.0) + (col("s_suppkey") % 8) * 1.013).as("flon"),
            (lit(-4.0) + ((col("s_suppkey").cast("long") / 8).cast("long") % 8) * 0.987).as("flat"))
        val km = Geo.haversineKm(col("lon"), col("lat"), col("flon"), col("flat"))
        // single-pass argmin with a primitive (double, long) buffer —
        // stays in HashAggregate/codegen, one scan, no minima join-back
        // (see plans/ArgMin.scala and the j10 note)
        pts.crossJoin(broadcast(fac)).withColumn("km", km)
          .groupBy("c_custkey")
          .agg(graft.plans.ArgMin.longByDouble(col("s_suppkey"), col("km")).as("am"))
          .select(col("c_custkey"), col("am.key").as("nearest_fac"),
            round(col("am.ord"), 6).as("km"))
      }
    },

    // ---- J23: WGS84 → UTM reprojection (in-engine CRS transform) ----------
    // The reference reprojects to "+proj=utm +zone=37 +south" before any
    // metric operation (containment, 50 m buffers); this row runs the
    // same Snyder series as a pure codegen'd projection over a customer
    // point grid inside zone 37 south. The oracle evaluates the
    // IDENTICAL series in SQL — coefficient constants are interpolated
    // from the same Scala values, every op is IEEE (+,-,*,/ sqrt) plus
    // sin/cos/tan whose cross-engine ulp differences sit ~1e-9 m against
    // a 1e-3 m rounding grid. Ref: processing_utils.R:458-467.
    Query("j23_utm_reproject", {
      import Geo.{M1, M2, M3, M4}
      val e2 = 1.0 / 298.257223563 * (2.0 - 1.0 / 298.257223563)
      val ep2 = e2 / (1.0 - e2)
      s"""WITH pts AS (
         |  SELECT c_custkey,
         |         36.0 + (c_custkey % 60) * 0.05 AS lon,
         |         -4.0 + ((c_custkey // 60) % 80) * 0.05 AS lat
         |  FROM customer),
         |tm AS (
         |  SELECT c_custkey,
         |         radians(lat) AS phi, radians(lon - 39.0) AS lam,
         |         cos(radians(lat)) AS cosp, tan(radians(lat)) AS tanp,
         |         6378137.0 / sqrt(1.0 - $e2 * sin(radians(lat)) * sin(radians(lat))) AS n
         |  FROM pts),
         |terms AS (
         |  SELECT c_custkey, phi, tanp, n,
         |         tanp * tanp AS t, $ep2 * cosp * cosp AS c, cosp * lam AS a,
         |         6378137.0 * ($M1 * phi - $M2 * sin(phi * 2)
         |                      + $M3 * sin(phi * 4) - $M4 * sin(phi * 6)) AS m
         |  FROM tm)
         |SELECT c_custkey,
         |       round(500000.0 + 0.9996 * n * (a
         |         + (1.0 - t + c) * a * a * a / 6.0
         |         + (5.0 - 18.0 * t + t * t + 72.0 * c - ${58.0 * ep2})
         |           * a * a * a * a * a / 120.0), 3) AS easting,
         |       round(10000000.0 + 0.9996 * (m + n * tanp * (
         |           a * a / 2.0
         |         + (5.0 - t + 9.0 * c + 4.0 * c * c) * a * a * a * a / 24.0
         |         + (61.0 - 58.0 * t + t * t + 600.0 * c - ${330.0 * ep2})
         |           * a * a * a * a * a * a / 720.0)), 3) AS northing
         |FROM terms""".stripMargin
    }) { (s, d) =>
      val pts = Tables.customer(s, d).select(col("c_custkey"),
        (lit(36.0) + (col("c_custkey") % 60) * 0.05).as("lon"),
        (lit(-4.0) + ((col("c_custkey").cast("long") / 60).cast("long") % 80) * 0.05).as("lat"))
      pts.select(col("c_custkey"),
        round(Geo.utmEasting(col("lon"), col("lat"), zone = 37), 3).as("easting"),
        round(Geo.utmNorthing(col("lon"), col("lat"), zone = 37, south = true), 3)
          .as("northing"))
    },

    // ---- J24: grid-cell spatial proximity self-join -------------------------
    // The 2D member of the bucketed-join family (j19 intervals, j22 1D
    // bands): all point pairs within 3 km, via integer grid cells
    // instead of a cross join. Coordinates live in EXACT 1e-5-degree
    // integer micro-units (the j22 lesson: no FP cell-boundary cases);
    // the cell is 30000 u = 0.3 deg — wider than the 3 km max
    // qualifying separation (~27091 u of longitude at lat -4), so a
    // 3x3 neighbor expansion is pigeonhole-complete. The left side
    // keeps its own cell, the right replicates x9; the equi-join on
    // (cx, cy) finds each oriented pair exactly once. 9x replication
    // instead of O(n^2) — AQE-splittable, shuffle keyed on cells, no
    // BroadcastNestedLoop anywhere. Exact-distance gate = the j12
    // haversine, identical IEEE form both engines.
    // ---- j25: grid-accelerated k-NN spatial join --------------------------------
    // j12 finds THE nearest via a crossJoin (bounded query set); this
    // is the k-NN JOIN over the whole point set without all-pairs: the
    // j24 grid generates candidates (cells ~ the 3 km radius), then a
    // per-point rank keeps the 3 nearest within radius. Asymmetric
    // (every point is a query), so no id< dedup; ordering is raw-double
    // km (identical IEEE haversine both engines) with rid tiebreak.
    Query("j25_knn_join",
      s"""WITH ${gridKmCtes("id", "rid", "<>")}
        |SELECT id, CAST(rank AS INT) AS rank, rid, round(km, 6) AS km FROM (
        |  SELECT id, rid, km,
        |         row_number() OVER (PARTITION BY id ORDER BY km, rid) AS rank
        |  FROM k WHERE km <= 3.0) t
        |WHERE rank <= 3""".stripMargin) {
      (s, d) => {
        val w = Window.partitionBy("id").orderBy(col("km"), col("rid"))
        gridPairs(s, d, col("id") =!= col("rid"))
          .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
          .select(col("id"), col("rank"), col("rid"),
            round(col("km"), 6).as("km"))
      }
    },

    Query("j24_grid_proximity",
      s"""WITH ${gridKmCtes("ca", "cb", "<")}
        |SELECT ca, cb, round(km, 6) AS km FROM k WHERE km <= 3.0""".stripMargin) {
      (s, d) => {
        gridPairs(s, d, col("id") < col("rid"))
          .select(col("id").as("ca"), col("rid").as("cb"),
            round(col("km"), 6).as("km"))
      }
    },

    // ---- J28: fuzzy duplicate transactions (2D blocked self-join) ----------------
    // Duplicate-payment detection: two purchases by the same user,
    // within 10 minutes, amounts within 1% — BOTH tolerance dimensions
    // blocked (time buckets replicate one side x2; the user key comes
    // free), so the self-join is an equi join on (user, bucket) and the
    // exact range/percent tests run on candidates only. The 1% test is
    // exact integers: 100*|ca - cb| <= ca on cents. Nothing quadratic
    // in the stream at any scale; pairs dedup on the canonical id pair.
    // ---- J30: Jaro-Winkler dirty-to-catalog match ------------------------------
    // The fuzzy entity-resolution scorer j18's levenshtein blocking
    // lacks: transposition-tolerant, prefix-boosted Jaro-Winkler as a
    // NATIVE codegen expression (plans/JaroWinkler.scala — Spark has no
    // built-in; the kernel is bit-compatible with DuckDB's
    // jaro_winkler_similarity, so the oracle runs the REAL function on
    // both engines). Shape: every dirty record (word-swapped variant)
    // argmax-matches against the broadcast clean catalog — the
    // match-to-master step of a dedup/mastering pipeline. Catalog-sized
    // build side broadcasts; candidates are |dirty| x |catalog| scored
    // in one codegen'd projection, argmax tiebroken by catalog name.
    Query("j30_jw_match",
      """WITH clean AS (SELECT DISTINCT p_name FROM part),
        |dirty AS (
        |  SELECT p_partkey,
        |         split_part(p_name, ' ', 2) || ' ' || split_part(p_name, ' ', 1)
        |           AS dirty_name
        |  FROM part),
        |scored AS (
        |  SELECT p_partkey, dirty_name, clean.p_name AS cand,
        |         jaro_winkler_similarity(dirty_name, clean.p_name) AS s
        |  FROM dirty CROSS JOIN clean)
        |SELECT p_partkey, dirty_name, cand AS best_clean, round(s, 9) AS score
        |FROM (SELECT *, row_number() OVER (PARTITION BY p_partkey
        |                                   ORDER BY s DESC, cand) AS rn
        |      FROM scored) t
        |WHERE rn = 1""".stripMargin) {
      (s, d) => {
        val clean = Tables.part(s, d).select(col("p_name")).distinct()
          .withColumnRenamed("p_name", "cand")
        // coalesce the second token to '' so a single-token name yields
        // ' word' on BOTH engines (Spark's getItem(1) is NULL out of
        // bounds and concat_ws would drop it; DuckDB's split_part
        // returns '') — latent-only on TPC-H (p_name is always 5 words)
        // but hash-identical by construction on any corpus
        val dirty = Tables.part(s, d).select(col("p_partkey"),
          concat_ws(" ", coalesce(split(col("p_name"), " ")(1), lit("")),
            split(col("p_name"), " ")(0)).as("dirty_name"))
        val scored = dirty.crossJoin(broadcast(clean))
          .withColumn("s",
            graft.plans.JaroWinkler(col("dirty_name"), col("cand")))
        scored.withColumn("rn", row_number().over(
            Window.partitionBy("p_partkey").orderBy(col("s").desc, col("cand"))))
          .filter(col("rn") === 1)
          .select(col("p_partkey"), col("dirty_name"),
            col("cand").as("best_clean"), round(col("s"), 9).as("score"))
      }
    },

    // ---- J29: SCD2 point-in-time lookup ---------------------------------------
    // THE warehouse join: facts resolve their dimension attributes AS OF
    // the fact's own date against an SCD2 validity-interval dimension
    // (j17/j20 as-of joins probe the nearest EVENT; this probes a closed
    // version table). Dim fixture: every customer has a v1 open at
    // 1992-01-01; custkey%3==0 customers flip segment at a per-customer
    // change date. The join is an EQUI join on the key with a residual
    // [from, to) interval filter — versions per key are few and bounded,
    // so there is no range-join blowup and one shuffle per side at any
    // scale; intervals are half-open and gap-free by construction, so
    // exactly one version matches (pinned: output rows == fact rows).
    Query("j29_scd2_lookup",
      """WITH dim AS (
        |  SELECT c_custkey, c_mktsegment AS seg,
        |         DATE '1992-01-01' AS valid_from,
        |         CASE WHEN c_custkey % 3 = 0
        |              THEN DATE '1995-01-01' + CAST(c_custkey % 1000 AS INT)
        |              ELSE DATE '9999-12-31' END AS valid_to
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 'MOVED:' || c_mktsegment,
        |         DATE '1995-01-01' + CAST(c_custkey % 1000 AS INT),
        |         DATE '9999-12-31'
        |  FROM customer WHERE c_custkey % 3 = 0)
        |SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS order_date,
        |       seg AS seg_at_order
        |FROM orders JOIN dim
        |  ON o_custkey = c_custkey
        | AND CAST(o_orderdate AS DATE) >= valid_from
        | AND CAST(o_orderdate AS DATE) < valid_to""".stripMargin) {
      (s, d) => {
        val c = Tables.customer(s, d)
        val base = lit(java.sql.Date.valueOf("1995-01-01"))
        val v1 = c.select(col("c_custkey"), col("c_mktsegment").as("seg"),
          lit(java.sql.Date.valueOf("1992-01-01")).as("valid_from"),
          when(col("c_custkey") % 3 === 0,
            date_add(base, (col("c_custkey") % 1000).cast("int")))
            .otherwise(lit(java.sql.Date.valueOf("9999-12-31"))).as("valid_to"))
        val v2 = c.filter(col("c_custkey") % 3 === 0)
          .select(col("c_custkey"),
            concat(lit("MOVED:"), col("c_mktsegment")).as("seg"),
            date_add(base, (col("c_custkey") % 1000).cast("int")).as("valid_from"),
            lit(java.sql.Date.valueOf("9999-12-31")).as("valid_to"))
        val dim = v1.unionByName(v2)
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"),
            to_date(col("o_orderdate")).as("order_date"))
          .join(dim, col("o_custkey") === col("c_custkey")
            && col("order_date") >= col("valid_from")
            && col("order_date") < col("valid_to"))
          .select(col("o_orderkey"), col("o_custkey"), col("order_date"),
            col("seg").as("seg_at_order"))
      }
    },

    Query("j28_fuzzy_dupes",
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us,
        |         CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events WHERE event_type = 'purchase'),
        |cand AS (
        |  SELECT DISTINCT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
        |         b.us - a.us AS gap_us, abs(a.c - b.c) AS diff_cents, a.c AS ca
        |  FROM p a JOIN p b
        |    ON a.user_id = b.user_id AND a.event_id < b.event_id
        |   AND b.us // 600000000 IN (a.us // 600000000 - 1, a.us // 600000000,
        |                              a.us // 600000000 + 1)
        |   AND abs(b.us - a.us) <= 600000000)
        |SELECT user_id, id_a, id_b, CAST(gap_us AS BIGINT) AS gap_us,
        |       CAST(diff_cents AS BIGINT) AS diff_cents
        |FROM cand WHERE 100 * diff_cents <= ca""".stripMargin) {
      (s, d) => {
        // both self-join legs share the scan
        val p = Materialize.pin(Tables.events(s, d).filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            expr("unix_micros(ts)").as("us"),
            round(col("value") * 100).cast("long").as("c")))
        val a = p.toDF("id_a", "user_id", "us_a", "ca")
          .withColumn("bkt", explode(array(expr("us_a div 600000000") - 1,
            expr("us_a div 600000000"), expr("us_a div 600000000") + 1)))
        val b = p.toDF("id_b", "ub", "us_b", "cb")
          .withColumn("bkt", expr("us_b div 600000000"))
        a.join(b, col("user_id") === col("ub") && a("bkt") === b("bkt") &&
            col("id_a") < col("id_b") &&
            abs(col("us_b") - col("us_a")) <= 600000000L)
          .select(col("user_id"), col("id_a"), col("id_b"),
            (col("us_b") - col("us_a")).as("gap_us"),
            abs(col("ca") - col("cb")).as("diff_cents"), col("ca"))
          .distinct()
          .filter(lit(100) * col("diff_cents") <= col("ca"))
          .select(col("user_id"), col("id_a"), col("id_b"),
            col("gap_us").cast("long").as("gap_us"),
            col("diff_cents").cast("long").as("diff_cents"))
      }
    },

    // ---- J27: absence-of-follow-up join ----------------------------------------
    // The NEGATIVE temporal join monitoring pipelines need constantly:
    // purchases with NO error event for the same user within the next
    // hour. Existence probes replicate the PROBE side (errors) into the
    // two hour buckets a window can span (the j19 trick — an interval
    // predicate becomes an equi-join on (user, bucket), never a range
    // nested loop), candidates range-check exactly, and the absence set
    // is one anti join on matched keys. At 100 TB both sides shuffle
    // once on (user, bucket); nothing is quadratic in either stream.
    Query("j27_absence_join",
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS us
        |FROM events p
        |WHERE p.event_type = 'purchase' AND NOT EXISTS (
        |  SELECT 1 FROM events e
        |  WHERE e.event_type = 'error' AND e.user_id = p.user_id
        |    AND epoch_us(e.ts) > epoch_us(p.ts)
        |    AND epoch_us(e.ts) <= epoch_us(p.ts) + 3600000000)""".stripMargin) {
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("unix_micros(ts)").as("us"))
        val p = ev.filter(col("event_type") === "purchase")
          .withColumn("bkt", expr("us div 3600000000"))
        val e = ev.filter(col("event_type") === "error")
          .select(col("user_id").as("eu"), col("us").as("eus"))
          .withColumn("bkt", explode(array(
            expr("eus div 3600000000"), expr("eus div 3600000000") - 1)))
        p.join(e,
            col("user_id") === col("eu") && p("bkt") === e("bkt") &&
              col("eus") > col("us") && col("eus") <= col("us") + 3600000000L,
            "left_anti")
          .select("event_id", "user_id", "us")
      }
    },

    // ---- J26: geofence dwell sessions ----------------------------------------
    // The geo x temporal composite a field-operations pipeline runs
    // daily: each user's position drifts hourly on the deterministic
    // lon/lat grid (j12 family); "in zone" = haversine within 150 km of
    // the facility center; dwell sessions are maximal consecutive
    // in-zone runs per user (gaps-and-islands). The island id is the
    // w11 boundary-flag running sum — lag + cumsum stack on ONE (user)
    // partitioning, so a single exchange+sort feeds both windows (a
    // second PARTITION BY (user, inside) pass would re-shuffle).
    // Distance inputs derive from integers, comparisons sit far from
    // the 150 km boundary at grid resolution — cross-engine safe.
    Query("j26_zone_dwell",
      """WITH pos AS (
        |  SELECT event_id, user_id, ts, epoch_us(ts) AS us,
        |         34.0 + ((user_id * 7 + (epoch_us(ts) // 3600000000) % 48) % 70)
        |                * 0.1 AS lon,
        |         -4.0 + ((user_id + (epoch_us(ts) // 3600000000) % 48) % 70)
        |                * 0.1 AS lat
        |  FROM events),
        |ins AS (
        |  SELECT event_id, user_id, ts, us,
        |         2 * 6371.0088 * atan2(
        |           sqrt(pow(sin(radians(-0.5 - lat) / 2), 2)
        |                + cos(radians(lat)) * cos(radians(-0.5))
        |                  * pow(sin(radians(37.5 - lon) / 2), 2)),
        |           sqrt(1 - (pow(sin(radians(-0.5 - lat) / 2), 2)
        |                + cos(radians(lat)) * cos(radians(-0.5))
        |                  * pow(sin(radians(37.5 - lon) / 2), 2)))) <= 150.0
        |           AS inside
        |  FROM pos),
        |g AS (
        |  SELECT *, sum(CASE WHEN prev IS NULL OR prev <> inside THEN 1 ELSE 0 END)
        |              OVER (PARTITION BY user_id ORDER BY ts, event_id) AS grp
        |  FROM (SELECT *, lag(inside) OVER (PARTITION BY user_id
        |                                    ORDER BY ts, event_id) AS prev
        |        FROM ins))
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(min(us) AS BIGINT) AS enter_us,
        |       CAST(max(us) AS BIGINT) AS exit_us,
        |       CAST(max(us) - min(us) AS BIGINT) AS dwell_us
        |FROM g WHERE inside GROUP BY user_id, grp""".stripMargin) {
      (s, d) => {
        val h48 = expr("(unix_micros(ts) div 3600000000) % 48")
        val pos = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("ts"),
            expr("unix_micros(ts)").as("us"),
            (lit(34.0) + ((col("user_id") * 7 + h48) % 70) * 0.1).as("lon"),
            (lit(-4.0) + ((col("user_id") + h48) % 70) * 0.1).as("lat"))
        val inside = Geo.haversineKm(col("lon"), col("lat"),
          lit(37.5), lit(-0.5)) <= 150.0
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        pos.withColumn("inside", inside)
          .withColumn("prev", lag(col("inside"), 1).over(w))
          .withColumn("grp", sum(
            when(col("prev").isNull || col("prev") =!= col("inside"), 1L)
              .otherwise(0L)).over(w))
          .filter(col("inside"))
          .groupBy("user_id", "grp")
          .agg(count(lit(1)).cast("long").as("n_events"),
            min("us").cast("long").as("enter_us"),
            max("us").cast("long").as("exit_us"),
            (max("us") - min("us")).cast("long").as("dwell_us"))
          .select("user_id", "n_events", "enter_us", "exit_us", "dwell_us")
      }
    },

    // ---- J32: trajectory length per user (haversine path audit) -------------
    // The movement summary j26's dwell report implies but never emits:
    // per user over the same synthetic position stream, the total
    // haversine path length, the longest single hop, and the step
    // count — the GPS-trace QA a field-ops pipeline runs (impossible
    // teleports = data errors). One lag window on the (user) ordering;
    // per-step kilometres round to 6dp and sum as DECIMAL (t34
    // discipline — libm trig output must never meet a partition-order-
    // dependent float sum), max is order-free. The oracle replays the
    // identical trig expression tree (the j26 contract).
    Query("j32_trajectory_length",
      """WITH pos AS (
        |  SELECT event_id, user_id, ts,
        |         34.0 + ((user_id * 7 + (epoch_us(ts) // 3600000000) % 48) % 70)
        |                * 0.1 AS lon,
        |         -4.0 + ((user_id + (epoch_us(ts) // 3600000000) % 48) % 70)
        |                * 0.1 AS lat
        |  FROM events),
        |st AS (
        |  SELECT user_id, lon, lat,
        |         lag(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plon,
        |         lag(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plat
        |  FROM pos),
        |hav AS (
        |  SELECT user_id,
        |         round(2 * 6371.0088 * atan2(
        |           sqrt(pow(sin(radians(lat - plat) / 2), 2)
        |                + cos(radians(plat)) * cos(radians(lat))
        |                  * pow(sin(radians(lon - plon) / 2), 2)),
        |           sqrt(1.0 - (pow(sin(radians(lat - plat) / 2), 2)
        |                + cos(radians(plat)) * cos(radians(lat))
        |                  * pow(sin(radians(lon - plon) / 2), 2)))), 6) AS km
        |  FROM st WHERE plon IS NOT NULL)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_steps,
        |       CAST(sum(CAST(km AS DECIMAL(18,6))) AS DOUBLE) AS total_km,
        |       max(km) AS max_step_km
        |FROM hav GROUP BY 1""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      // exact integral div (the j26 form): Long `/` would promote to
      // double division and lose bits past 2^53 µs. Spark `div` and
      // DuckDB integer `//` BOTH truncate toward zero (probed:
      // (-5)//3 = -1 in DuckDB 1.x, = -5 div 3 in Spark), so the
      // parity holds on pre-1970 (negative-µs) timestamps too
      val hour = expr("unix_micros(ts) div 3600000000")
      val pos = ev.select(col("event_id"), col("user_id"), col("ts"),
        (lit(34.0) + ((col("user_id") * 7 + hour % 48) % 70) * 0.1).as("lon"),
        (lit(-4.0) + ((col("user_id") + hour % 48) % 70) * 0.1).as("lat"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val km = round(Geo.haversineKm(col("plon"), col("plat"),
        col("lon"), col("lat")), 6)
      pos
        .withColumn("plon", lag("lon", 1).over(w))
        .withColumn("plat", lag("lat", 1).over(w))
        .filter(col("plon").isNotNull)
        .select(col("user_id"), km.as("km"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_steps"),
          sum(col("km").cast("decimal(18,6)")).cast("double").as("total_km"),
          max("km").as("max_step_km"))
    },

    // ---- J31: polygon metrics (shoelace area, centroid, perimeter) ----------
    // The geometry summary every overlay pipeline reports before using a
    // boundary set: per-ring area (shoelace), centroid, and perimeter —
    // here over the 0.3°-BUFFERED diamond fixture (Geo.bufferPoly's
    // rounded corners, 16 vertices/ring), so the arc construction from
    // j23's family is itself under a hash gate. Rings are rows, metrics
    // are strict in-order array folds per row (the s46 fold contract) —
    // zero exchanges; a boundary table of any size scans embarrassingly
    // parallel. The oracle embeds the SAME vertex literals
    // (shortest-roundtrip doubles, s16 device) and replays the folds.
    {
      val polys = diamonds.map(p => Geo.bufferPoly(p, 0.3, segmentsPerRadian = 2))
      val polyValues = polys
        .map(p => s"(${p.id}, [${p.xs.mkString(", ")}], [${p.ys.mkString(", ")}])")
        .mkString(",\n        ")
      // the oracle's per-ring folds: vertex i, its wrapping successor
      // (x1, y1) and the shoelace cross term
      def ringSum(term: String) = OracleSnippets.sumOver("len(xs) + 1", term)
      val (x1, y1) = ("xs[1 + i % len(xs)]", "ys[1 + i % len(xs)]")
      val crossSql = s"xs[i] * $y1 - $x1 * ys[i]"
      Query("j31_polygon_metrics",
        s"""WITH polys0(id, xs0, ys0) AS (VALUES
          |        $polyValues),
          |polys AS (SELECT id, CAST(xs0 AS DOUBLE[]) AS xs,
          |                 CAST(ys0 AS DOUBLE[]) AS ys
          |          FROM polys0),
          |m AS (
          |  SELECT id, len(xs) AS n,
          |    ${ringSum(crossSql)} AS s,
          |    ${ringSum(s"(xs[i] + $x1) * ($crossSql)")} AS sx,
          |    ${ringSum(s"(ys[i] + $y1) * ($crossSql)")} AS sy,
          |    ${ringSum(s"sqrt(($x1 - xs[i]) * ($x1 - xs[i]) + ($y1 - ys[i]) * ($y1 - ys[i]))")} AS per
          |  FROM polys)
          |SELECT CAST(id AS BIGINT) AS id, CAST(n AS BIGINT) AS n_vertices,
          |       round(abs(s) / 2.0, 9) AS area,
          |       round(sx / (3.0 * s), 9) AS cx,
          |       round(sy / (3.0 * s), 9) AS cy,
          |       round(per, 9) AS perimeter
          |FROM m""".stripMargin) { (s, d) =>
        val sp = s; import sp.implicits._
        val df = polys.map(p => (p.id.toLong, p.xs.toSeq, p.ys.toSeq))
          .toDF("id", "xs", "ys")
        def fold(body: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column) =
          graft.functions.TextFunctions.bind1(size(col("xs"))) { n =>
            aggregate(sequence(lit(1), n), lit(0.0), (acc, i) => {
              val j = i % n + 1
              acc + body(i, j)
            })
          }
        def xs(i: org.apache.spark.sql.Column) = element_at(col("xs"), i)
        def ys(i: org.apache.spark.sql.Column) = element_at(col("ys"), i)
        def cross(i: org.apache.spark.sql.Column, j: org.apache.spark.sql.Column) =
          xs(i) * ys(j) - xs(j) * ys(i)
        val sS = fold((i, j) => cross(i, j))
        val sSx = fold((i, j) => (xs(i) + xs(j)) * cross(i, j))
        val sSy = fold((i, j) => (ys(i) + ys(j)) * cross(i, j))
        val sPer = fold((i, j) => sqrt((xs(j) - xs(i)) * (xs(j) - xs(i))
          + (ys(j) - ys(i)) * (ys(j) - ys(i))))
        df.select(col("id"), size(col("xs")).cast("long").as("n_vertices"),
            sS.as("s"), sSx.as("sx"), sSy.as("sy"), sPer.as("per"))
          .select(col("id"), col("n_vertices"),
            round(abs(col("s")) / 2.0, 9).as("area"),
            round(col("sx") / (lit(3.0) * col("s")), 9).as("cx"),
            round(col("sy") / (lit(3.0) * col("s")), 9).as("cy"),
            round(col("per"), 9).as("perimeter"))
      }
    }
  )
}
