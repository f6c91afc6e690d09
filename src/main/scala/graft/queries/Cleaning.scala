package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{Materialize, Query, Tables}
import graft.operators.{Reshape, Resolution, Sanitize, Standardize}

/** Cleaning / sanitation / resolution / reshape operators (SURVEY.md
  * §2.2, §2.3 J6, §2.6) exercised over the driver testdata with DuckDB
  * oracles.
  *
  * Oracle notes:
  *  - Spark `regexp_replace` is global; DuckDB needs the 'g' flag.
  *  - Hash oracle uses md5 (DuckDB has no sha1); the Sanitize operator
  *    itself uses sha1 and is pinned by unit test instead.
  *  - Integer columns that can become null (masking, pivot) surface as
  *    float64 on BOTH pandas paths, so string compare stays aligned.
  */
object Cleaning {

  val queries: Seq[Query] = Seq(

    // ---- P1: column-name normalize (ODK group prefixes) -------------------
    // Rename to ODK-style `group-subgroup-field` names first, then clean;
    // the oracle states the expected plain names directly.
    Query("p01_clean_names",
      """SELECT c_custkey AS custkey, c_name AS name, c_mktsegment AS segment
        |FROM customer""".stripMargin) {
      (s, d) => Standardize.cleanColumnNames(
        Tables.customer(s, d).select(
          col("c_custkey").as("grp-meta-custkey"),
          col("c_name").as("grp-meta-name"),
          col("c_mktsegment").as("grp-seg-segment")))
    },

    // ---- P2: PII column drop (denylist + regex) ----------------------------
    // c_name dropped by denylist (absent names ignored), c_mktsegment by
    // pattern; the oracle selects exactly the surviving columns.
    Query("p02_pii_drop",
      "SELECT c_custkey, c_nationkey, c_acctbal FROM customer") {
      (s, d) => Sanitize.dropPii(Tables.customer(s, d),
        denylist = Seq("c_name", "no_such_column"),
        patterns = Seq(".*mktsegment"))
    },

    // ---- P4: empty-column prune --------------------------------------------
    // An all-null column is dropped; a partially-null one survives.
    Query("p04_prune_empty",
      """SELECT c_custkey,
        |       CASE WHEN c_custkey % 2 = 0 THEN c_name END AS maybe_name
        |FROM customer""".stripMargin) {
      (s, d) => Sanitize.pruneEmptyColumns(
        Tables.customer(s, d).select(
          col("c_custkey"),
          lit(null).cast("string").as("all_null"),
          when(col("c_custkey") % 2 === 0, col("c_name")).as("maybe_name")))
    },

    // ---- P5: GPS jitter (oracled on the displacement invariant) ------------
    // The hash-derived angle has no SQL oracle (xxhash64 is engine-specific;
    // determinism under repartitioning is pinned in SanitizeSpec+PropertySpec)
    // but the displacement MAGNITUDE is exactly the jitter radius for every
    // key — a real cross-engine check that the operator displaced each point
    // on the r-circle rather than not at all or twice.
    Query("p05_gps_jitter",
      "SELECT c_custkey, round(CAST(0.01 AS DOUBLE), 6) AS disp_deg FROM customer") {
      (s, d) => {
        val base = Tables.customer(s, d).select(
          col("c_custkey"),
          (col("c_custkey") % 360).cast("double").as("lon"),
          (col("c_custkey") % 80).cast("double").as("lat"))
          .withColumn("lon0", col("lon")).withColumn("lat0", col("lat"))
        Sanitize.jitterLocation(base, "c_custkey", "lon", "lat", r = 0.01, seed = 1001L)
          .select(col("c_custkey"),
            round(sqrt(pow(col("lon") - col("lon0"), 2) +
                       pow(col("lat") - col("lat0"), 2)), 6).as("disp_deg"))
      }
    },

    // ---- P3: id hashing ---------------------------------------------------
    // Runs the REAL operator (Sanitize.hashIds) in its sha256 form — the
    // strongest digest both engines share (the oracle engine lacks sha1,
    // which stays the reference-pinned default, spec-covered in
    // SanitizeSpec). Cross-engine: both emit lowercase hex of the same
    // digest, so the gate checks the operator itself, not a twin md5.
    Query("p03_hash_ids",
      "SELECT c_custkey, sha256(c_name) AS name_hash FROM customer") {
      (s, d) =>
        Sanitize.hashIds(
            Tables.customer(s, d).select(col("c_custkey"), col("c_name")),
            Seq("c_name"), algo = "sha256")
          .withColumnRenamed("c_name", "name_hash")
    },

    // ---- P6: case/whitespace standardize ---------------------------------
    Query("p06_standardize_case",
      """SELECT c_custkey,
        |       upper(regexp_replace(trim(concat('  ', c_mktsegment, '   ', c_name, ' ')),
        |                            ' +', ' ', 'g')) AS std
        |FROM customer""".stripMargin) {
      (s, d) => Tables.customer(s, d).select(col("c_custkey"),
        Standardize.standardizeCase(
          concat(lit("  "), col("c_mktsegment"), lit("   "), col("c_name"), lit(" "))).as("std"))
    },

    // ---- P7: typo fix ----------------------------------------------------
    Query("p07_fix_typos",
      """SELECT p_partkey,
        |       regexp_replace(regexp_replace(p_type, 'BRASS', 'BR4SS', 'g'),
        |                      'PROMO', 'PR0M0', 'g') AS fixed
        |FROM part""".stripMargin) {
      (s, d) => Tables.part(s, d).select(col("p_partkey"),
        Standardize.fixTypos(col("p_type"),
          Seq("BRASS" -> "BR4SS", "PROMO" -> "PR0M0")).as("fixed"))
    },

    // ---- P8: lenient dob standardization with column fallback --------------
    // The input models the reference's real shape: a primary `dob` that is
    // sometimes NULL and sometimes garbage, plus a `dob_string` sibling in a
    // regional format carrying the same fact. The operator must produce one
    // DATE and never throw (ANSI stays on).
    Query("p08_standardize_dob",
      """SELECT o_orderkey,
        |       COALESCE(TRY_CAST(dob AS DATE),
        |                CAST(try_strptime(dob_string, '%d/%m/%Y') AS DATE)) AS dob_std
        |FROM (SELECT o_orderkey,
        |             CASE WHEN o_orderkey % 3 = 0 THEN NULL
        |                  WHEN o_orderkey % 7 = 0 THEN 'not-a-date'
        |                  ELSE CAST(o_orderdate AS VARCHAR) END AS dob,
        |             strftime(o_orderdate, '%d/%m/%Y') AS dob_string
        |      FROM orders)""".stripMargin) { (s, d) =>
      Tables.orders(s, d).select(col("o_orderkey"),
          when(col("o_orderkey") % 3 === 0, lit(null).cast("string"))
            .when(col("o_orderkey") % 7 === 0, lit("not-a-date"))
            .otherwise(col("o_orderdate").cast("string")).as("dob"),
          date_format(col("o_orderdate"), "dd/MM/yyyy").as("dob_string"))
        .select(col("o_orderkey"),
          Standardize.standardizeDob(
            col("dob") -> "", col("dob_string") -> "dd/MM/yyyy").as("dob_std"))
    },

    // ---- P9: derived fractional age --------------------------------------
    Query("p09_derived_age",
      """SELECT o_orderkey,
        |       datediff('day', CAST(o_orderdate AS DATE), DATE '2026-08-01')
        |         / CAST(365.25 AS DOUBLE) AS age_years
        |FROM orders""".stripMargin) {
      (s, d) => Tables.orders(s, d).select(col("o_orderkey"),
        Standardize.correctedAge(col("o_orderdate"), lit("2026-08-01").cast("date")).as("age_years"))
    },

    // ---- P10: zero-pad ids ------------------------------------------------
    Query("p10_pad_ids",
      "SELECT lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded FROM customer") {
      (s, d) => Tables.customer(s, d)
        .select(Standardize.padHhid(col("c_custkey"), 8).as("padded"))
    },

    // ---- P12: manual exception masking ------------------------------------
    Query("p12_mask_exceptions",
      """SELECT c_custkey,
        |       CASE WHEN c_custkey IN (1,2,3) THEN NULL ELSE c_name END AS c_name,
        |       CASE WHEN c_custkey IN (1,2,3) THEN NULL ELSE c_nationkey END AS c_nationkey,
        |       c_acctbal,
        |       CASE WHEN c_custkey IN (1,2,3) THEN NULL ELSE c_mktsegment END AS c_mktsegment
        |FROM customer""".stripMargin) {
      (s, d) => Sanitize.maskExceptions(Tables.customer(s, d), "c_custkey",
        Seq(1L, 2L, 3L), keep = Seq("c_acctbal"))
    },

    // ---- J6+J3: batch SET/DELETE resolution --------------------------------
    // DELETE nationkey 3; SET n_name of nationkey 5 → 'FIXED'; a SET on a
    // column absent from the data is ignored; DELETE runs before SET.
    Query("j06_resolution_set_delete",
      """SELECT n.n_nationkey,
        |       CASE WHEN n.n_nationkey = 5 THEN 'FIXED' ELSE n.n_name END AS n_name,
        |       n.n_regionkey
        |FROM nation n WHERE n.n_nationkey <> 3""".stripMargin) {
      (s, d) => {
        import s.implicits._
        val resolution = Seq(
          ("3", Option.empty[String], Option.empty[String], "DELETE"),
          ("5", Some("n_name"), Some("FIXED"), "SET"),
          ("7", Some("no_such_column"), Some("x"), "SET"))
          .toDF("key", "column", "setTo", "operation")
        Resolution.applyResolution(
          Tables.nation(s, d).withColumn("__k", col("n_nationkey").cast("string")),
          resolution, "__k").drop("__k")
      }
    },

    // ---- R1/R2: pivot_wider -------------------------------------------------
    // Long (cust, status) → wide counts; absent combinations are NULL on both
    // engines (Spark pivot-count over no rows; SQL sum-of-case over none).
    Query("r01_pivot_status",
      """SELECT o_custkey,
        |       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS F,
        |       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS O,
        |       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS P
        |FROM orders GROUP BY o_custkey""".stripMargin) {
      (s, d) => Reshape.pivotWide(Tables.orders(s, d), Seq("o_custkey"),
        "o_orderstatus", Seq("F", "O", "P"), count(lit(1)))
    },

    // ---- R3: unpivot / melt -------------------------------------------------
    Query("r03_unpivot",
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS name, l_quantity AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""".stripMargin) {
      (s, d) => Reshape.unpivot(Tables.lineitem(s, d),
        Seq("l_orderkey", "l_linenumber"), Seq("l_quantity", "l_discount", "l_tax"))
    },

    // ---- R4: separate (split column) ----------------------------------------
    Query("r04_separate",
      """SELECT o_orderkey, split_part(o_orderpriority, '-', 1) AS prio_num,
        |       split_part(o_orderpriority, '-', 2) AS prio_name
        |FROM orders""".stripMargin) {
      (s, d) => Reshape.separate(Tables.orders(s, d), "o_orderpriority", "-",
          Seq("prio_num", "prio_name"))
        .select("o_orderkey", "prio_num", "prio_name")
    },

    // ---- R5: row explosion by count ------------------------------------------
    Query("r05_explode_by_count",
      """SELECT s_suppkey,
        |       CAST(unnest(generate_series(1, CAST(s_suppkey % 3 + 1 AS INT))) AS INT) AS idx
        |FROM supplier""".stripMargin) {
      (s, d) => Reshape.explodeByCount(
        Tables.supplier(s, d).select("s_suppkey"), col("s_suppkey") % 3 + 1)
    },

    // ---- W10: visit cascade (re-label to next visit, capped) ------------------
    Query("w10_visit_cascade",
      """SELECT event_id, 'V' || CAST((event_id % 8) + 1 AS VARCHAR) AS visit
        |FROM events WHERE (event_id % 8) + 1 <= 5""".stripMargin) {
      (s, d) => Standardize.cascadeVisit(
        Tables.events(s, d)
          .select(col("event_id"),
                  concat(lit("V"), (col("event_id") % 8).cast("string")).as("visit")),
        "visit", cap = 5)
    },

    // ---- R7: union with all-string cast + ''-filled nulls -----------------------
    // Two projections with different column sets, bind_rows-style aligned by
    // name, everything cast to string, nulls become '' (the reference's
    // all-character consolidated anomaly frame).
    Query("r13_union_allstring",
      """SELECT CAST(o_orderkey AS VARCHAR) AS o_orderkey, o_orderstatus,
        |       '' AS o_orderpriority
        |FROM orders
        |UNION ALL
        |SELECT CAST(o_orderkey AS VARCHAR), '', o_orderpriority FROM orders""".stripMargin) {
      (s, d) => Reshape.unionAllString(Seq(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus")),
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))))
    },

    // ---- R8: resolution cascade expansion ----------------------------------------
    // SET rows on a source column are copied to its connected column, with a
    // value rewrite on one landing value (processing_utils.R:512-552 shape).
    Query("r14_cascade_expand",
      """SELECT CAST(n_nationkey AS VARCHAR) AS key, 'n_name' AS "column",
        |       n_name AS setTo, 'SET' AS operation
        |FROM nation
        |UNION ALL
        |SELECT CAST(n_nationkey AS VARCHAR), 'alias_name',
        |       CASE WHEN n_name = 'NATION_5' THEN 'N5' ELSE n_name END, 'SET'
        |FROM nation""".stripMargin) {
      (s, d) => {
        val res = Tables.nation(s, d).select(
          col("n_nationkey").cast("string").as("key"),
          lit("n_name").as("column"),
          col("n_name").as("setTo"),
          lit("SET").as("operation"))
        Resolution.cascadeExpand(res,
          mapping = Seq("n_name" -> "alias_name"),
          rewrite = Map(("alias_name", "NATION_5") -> "N5"))
      }
    },

    // ---- A7: group-concat dictionary -------------------------------------------
    Query("a07_group_concat",
      """SELECT p_brand, string_agg(p_type, '; ' ORDER BY p_type) AS types
        |FROM part GROUP BY p_brand""".stripMargin) {
      (s, d) => Tables.part(s, d).groupBy("p_brand")
        .agg(concat_ws("; ", array_sort(collect_list(col("p_type")))).as("types"))
    },

    // ---- p13: tolerant cast + bad-record quarantine -----------------------
    // The dirty-CSV reality the cleaning DAG meets first: numeric fields
    // arriving as strings, some unparseable. try_cast parses the clean
    // ones and yields null (never a task failure) for garbage; the
    // quarantine flag preserves every bad row for triage instead of
    // silently dropping it. The dirty fixture is built identically in
    // both engines (printf('%.2f') of a 2-decimal money value is
    // tie-free, so C and Java formatting agree); the oracle replays the
    // parse rule, so a cast that dropped rows, threw, or mis-parsed a
    // locale breaks the hash.
    Query("p13_quarantine_cast",
      """WITH dirty AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 7 = 3 THEN 'N/A-' || c_mktsegment
        |              ELSE printf('%.2f', c_acctbal) END AS raw
        |  FROM customer)
        |SELECT c_custkey, TRY_CAST(raw AS DOUBLE) AS parsed,
        |       TRY_CAST(raw AS DOUBLE) IS NULL AS quarantined,
        |       CASE WHEN TRY_CAST(raw AS DOUBLE) IS NULL THEN raw END AS raw_kept
        |FROM dirty""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"),
          when(col("c_custkey") % 7 === 3,
            concat(lit("N/A-"), col("c_mktsegment")))
            .otherwise(format_string("%.2f", col("c_acctbal"))).as("raw"))
        .select(col("c_custkey"),
          expr("try_cast(raw AS DOUBLE)").as("parsed"),
          expr("try_cast(raw AS DOUBLE)").isNull.as("quarantined"),
          when(expr("try_cast(raw AS DOUBLE)").isNull, col("raw")).as("raw_kept"))
    },

    // ---- a28: per-group mode (most frequent value) ------------------------
    // Mode imputation's core aggregate: the most common status per
    // priority, as TWO hash aggregates — count per (group, value), then
    // max(struct(cnt, value)) per group — never a sort. Tiebreak is
    // struct ordering (largest value at equal count), replayed in the
    // oracle's row_number.
    Query("a28_mode_per_group",
      """SELECT o_orderpriority, status AS mode_status, cnt FROM (
        |  SELECT o_orderpriority, o_orderstatus AS status, count(*) AS cnt,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY count(*) DESC, o_orderstatus DESC) AS rn
        |  FROM orders GROUP BY 1, 2) WHERE rn = 1""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("o_orderpriority")
        .agg(max(struct(col("cnt"), col("o_orderstatus"))).as("m"))
        .select(col("o_orderpriority"), col("m.o_orderstatus").as("mode_status"),
          col("m.cnt").as("cnt"))
    },

    // ---- P14: mixed-unit normalization -------------------------------------
    // Field forms record the same measure in whatever unit the
    // enumerator typed ("5 kg" / "5000 g" / "0.005 t"); analysis needs
    // one canonical unit. The dirty fixture is synthesized identically
    // in both engines from lineitem (integer quantities, so every
    // printf is tie-free), the parse is regex + unit lookup, the
    // normalization is exact integer grams. Unknown units quarantine
    // as NULL rather than guessing — same contract as p13.
    Query("p14_unit_normalize",
      """WITH dirty AS (
        |  SELECT l_orderkey * 10 + l_linenumber AS line_id,
        |         CASE l_orderkey % 4
        |           WHEN 0 THEN printf('%d kg', CAST(l_quantity AS BIGINT))
        |           WHEN 1 THEN printf('%d g', CAST(l_quantity AS BIGINT) * 1000)
        |           WHEN 2 THEN printf('%d mg', CAST(l_quantity AS BIGINT) * 1000000)
        |           ELSE printf('%d stone', CAST(l_quantity AS BIGINT))
        |         END AS raw
        |  FROM lineitem),
        |p AS (
        |  SELECT line_id, raw,
        |         TRY_CAST(regexp_extract(raw, '^([0-9]+) ', 1) AS BIGINT) AS num,
        |         regexp_extract(raw, ' ([a-z]+)$', 1) AS unit
        |  FROM dirty)
        |SELECT line_id,
        |       num * CASE unit WHEN 'kg' THEN 1000000
        |                       WHEN 'g' THEN 1000
        |                       WHEN 'mg' THEN 1 END AS canonical_mg,
        |       num * CASE unit WHEN 'kg' THEN 1000000
        |                       WHEN 'g' THEN 1000
        |                       WHEN 'mg' THEN 1 END IS NULL AS quarantined
        |FROM p""".stripMargin) { (s, d) =>
      val q = col("l_quantity").cast("long")
      Tables.lineitem(s, d)
        .select((col("l_orderkey") * 10 + col("l_linenumber")).as("line_id"),
          when(col("l_orderkey") % 4 === 0, format_string("%d kg", q))
            .when(col("l_orderkey") % 4 === 1, format_string("%d g", q * 1000))
            .when(col("l_orderkey") % 4 === 2, format_string("%d mg", q * 1000000L))
            .otherwise(format_string("%d stone", q)).as("raw"))
        .select(col("line_id"),
          expr("try_cast(regexp_extract(raw, '^([0-9]+) ', 1) AS BIGINT)").as("num"),
          regexp_extract(col("raw"), " ([a-z]+)$", 1).as("unit"))
        .select(col("line_id"),
          (col("num") * when(col("unit") === "kg", 1000000L)
            .when(col("unit") === "g", 1000L)
            .when(col("unit") === "mg", 1L)).as("canonical_mg"),
          (col("num") * when(col("unit") === "kg", 1000000L)
            .when(col("unit") === "g", 1000L)
            .when(col("unit") === "mg", 1L)).isNull.as("quarantined"))
    },

    // ---- P23: re-identification risk profile (the p15/p17 audit view) ------
    // Before releasing a table, the privacy battery TRANSFORMS (p15
    // suppresses, p17 generalizes); this row REPORTS: the equivalence-
    // class size histogram over the quasi-identifier — how many classes
    // of each size, how many rows sit in classes below k=8 (the ones
    // p15 would suppress), and each size's share of the table.
    // Prosecutor-model risk per row in a class of size s is 1/s, so the
    // histogram IS the risk distribution. Two hash aggs; class-sized
    // everything after the first.
    Query("p23_anonymity_risk",
      """WITH g AS (
        |  SELECT c_nationkey AS nk, c_mktsegment AS seg, count(*) AS n
        |  FROM customer GROUP BY 1, 2),
        |tot AS (SELECT sum(n) AS total FROM g)
        |SELECT CAST(g.n AS BIGINT) AS class_size,
        |       CAST(count(*) AS BIGINT) AS n_classes,
        |       CAST(count(*) * g.n AS BIGINT) AS n_rows,
        |       g.n < 8 AS below_k,
        |       round(CAST(count(*) * g.n AS DOUBLE) / max(tot.total), 6)
        |         AS row_share,
        |       round(CAST(1.0 AS DOUBLE) / g.n, 6) AS reid_risk
        |FROM g CROSS JOIN tot
        |GROUP BY g.n""".stripMargin) { (s, d) =>
      val g = Tables.customer(s, d)
        .groupBy(col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n"))
      val tot = g.agg(sum("n").as("total"))
      g.crossJoin(broadcast(tot))
        .groupBy("n")
        .agg(count(lit(1)).as("n_classes"), max("total").as("t"))
        .select(col("n").cast("long").as("class_size"),
          col("n_classes").cast("long").as("n_classes"),
          (col("n_classes") * col("n")).cast("long").as("n_rows"),
          (col("n") < 8).as("below_k"),
          round((col("n_classes") * col("n")).cast("double") / col("t"), 6)
            .as("row_share"),
          round(lit(1.0) / col("n"), 6).as("reid_risk"))
    },

    // ---- P15: k-anonymity suppression ---------------------------------------
    // Release-gate privacy audit: customers whose (nation, market
    // segment) quasi-identifier combination occurs < k times are
    // linkage-re-identifiable even after P2/P3 strip the direct ids, so
    // those QI cells null out and the row is flagged. One hash agg
    // (|QI combos| rows) broadcast-joined back — no window sort.
    Query("p15_k_anonymize",
      """WITH g AS (
        |  SELECT c_nationkey AS nk, c_mktsegment AS seg, count(*) AS n
        |  FROM customer GROUP BY 1, 2)
        |SELECT c_custkey,
        |       CASE WHEN n >= 8 THEN c_nationkey END AS c_nationkey,
        |       CASE WHEN n >= 8 THEN c_mktsegment END AS c_mktsegment,
        |       CAST(n AS BIGINT) AS qi_group_n,
        |       n < 8 AS suppressed
        |FROM customer JOIN g
        |  ON c_nationkey = g.nk AND c_mktsegment = g.seg""".stripMargin) {
      (s, d) =>
        graft.operators.Sanitize.kAnonymize(
            Tables.customer(s, d).select("c_custkey", "c_nationkey", "c_mktsegment"),
            Seq("c_nationkey", "c_mktsegment"), k = 8L)
          .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
            col("qi_group_n").cast("long").as("qi_group_n"), col("suppressed"))
    },

    // ---- P16: differentially-private count release --------------------------
    // The other release-gate primitive (p15 suppresses small cells;
    // this perturbs every cell): per-(nation, segment) customer counts
    // with seeded Laplace(1/epsilon) noise, epsilon = 0.5 -> b = 2.
    // The md5-seeded inverse-CDF draw lets the oracle replay the exact
    // noise; noise rounds to 6dp (ln recipe). One hash agg + a narrow
    // projection — release tables are group-cardinality-sized.
    // ---- R23: pattern-based multi-group unpivot --------------------------------
    // tidyr's pivot_longer(names_pattern = "(drug)_(metric)") shape the
    // pharmacy reports use (monitoring/pharmacy.Rmd stock columns
    // alb_tabno/ivm_tabno/...): wide columns whose NAMES encode TWO
    // dimensions unpivot into (drug, metric, value) rows. The name
    // parse happens at PLAN time in Scala — the generated stack() has
    // the (drug, metric) literals baked in, so the data path is one
    // narrow 6x projection, no string parsing per row, no shuffle.
    Query("r23_unpivot_pattern", {
      val legs = for (drug <- Seq("alb", "ivm", "prdt");
                      metric <- Seq("tabno", "damaged")) yield drug -> metric
      val sel = legs.map { case (dr, m) =>
        s"SELECT o_orderkey, '$dr' AS drug, '$m' AS metric, ${dr}_$m AS value FROM w"
      }.mkString("\nUNION ALL ")
      s"""WITH w AS (
        |  SELECT o_orderkey,
        |         o_orderkey % 7 AS alb_tabno, o_orderkey % 5 AS ivm_tabno,
        |         o_orderkey % 3 AS prdt_tabno, o_orderkey % 2 AS alb_damaged,
        |         o_orderkey % 11 AS ivm_damaged, o_orderkey % 13 AS prdt_damaged
        |  FROM orders)
        |$sel""".stripMargin
    }) {
      (s, d) => {
        val wide = Tables.orders(s, d).select(col("o_orderkey"),
          (col("o_orderkey") % 7).as("alb_tabno"),
          (col("o_orderkey") % 5).as("ivm_tabno"),
          (col("o_orderkey") % 3).as("prdt_tabno"),
          (col("o_orderkey") % 2).as("alb_damaged"),
          (col("o_orderkey") % 11).as("ivm_damaged"),
          (col("o_orderkey") % 13).as("prdt_damaged"))
        // names_pattern parse at plan time: (drug)_(metric) over the
        // actual wide columns, not a hand-kept list
        val pat = "^(alb|ivm|prdt)_([a-z]+)$".r
        val legs = wide.columns.toSeq.collect {
          case c @ pat(drug, metric) => (c, drug, metric) }
        val stackArgs = legs.map { case (c, dr, m) => s"'$dr', '$m', $c" }
          .mkString(", ")
        wide.select(col("o_orderkey"),
          expr(s"stack(${legs.size}, $stackArgs) AS (drug, metric, value)"))
          .select("o_orderkey", "drug", "metric", "value")
      }
    },

    // ---- P22: differentially-private quantile (exponential mechanism) -------
    // Completes the DP family: p16 = Laplace counts (trusted curator),
    // p20 = randomized response (local), this = the exponential
    // mechanism for a NON-numeric-aggregatable release (a quantile).
    // The domain discretizes to 24 fixed bands; utility of a band is
    // the exact INTEGER rank distance -|2*le - n| from the median; the
    // selection draw is the Gumbel-max trick with seeded-md5 uniforms
    // (p16's replayable-noise convention), so both engines derive the
    // SAME draw. Scores round to 6 dp before the argmax (band-id
    // tiebreak) so a libm ulp cannot flip the winner. Everything after
    // the one (seg, band) aggregate is band-spine-sized.
    Query("p22_dp_quantile",
      """WITH b AS (
        |  SELECT c_mktsegment AS seg,
        |         CAST((CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 46000
        |              AS BIGINT) AS band,
        |         count(*) AS c
        |  FROM customer GROUP BY 1, 2),
        |spine AS (
        |  SELECT seg, r.range AS band FROM (SELECT DISTINCT seg FROM b),
        |       range(0, 24) r),
        |cum AS (
        |  SELECT spine.seg, spine.band,
        |         sum(coalesce(c, 0)) OVER (PARTITION BY spine.seg
        |                                   ORDER BY spine.band) AS le,
        |         sum(coalesce(c, 0)) OVER (PARTITION BY spine.seg) AS n
        |  FROM spine LEFT JOIN b ON spine.seg = b.seg AND spine.band = b.band),
        |sc AS (
        |  SELECT seg, band, le, n,
        |         0 - abs(2 * le - n) AS u,
        |         round(0.25 * (0 - abs(2 * le - n))
        |               - ln(0 - ln(CAST('0x' || substr(md5(seg || '#'
        |                     || CAST(band AS VARCHAR) || 'p22'), 1, 8) AS BIGINT)
        |                     / 4294967296.0)), 6) AS score
        |  FROM cum),
        |pick AS (
        |  SELECT seg, band, n,
        |         row_number() OVER (PARTITION BY seg ORDER BY score DESC, band)
        |           AS rd,
        |         row_number() OVER (PARTITION BY seg ORDER BY u DESC, band)
        |           AS rt
        |  FROM sc)
        |SELECT t.seg, CAST(t.n AS BIGINT) AS n,
        |       CAST(t.band AS BIGINT) AS true_band,
        |       CAST(d.band AS BIGINT) AS dp_band,
        |       -770.0 + d.band * 460.0 AS dp_value
        |FROM (SELECT * FROM pick WHERE rt = 1) t
        |JOIN (SELECT * FROM pick WHERE rd = 1) d ON t.seg = d.seg""".stripMargin) {
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val b = Tables.customer(s, d)
          .groupBy(col("c_mktsegment").as("seg"),
            expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 46000")
              .as("band"))
          .agg(count(lit(1)).as("c"))
        val spine = b.select("seg").distinct()
          .select(col("seg"), explode(sequence(lit(0L), lit(23L))).as("band"))
        val w = Window.partitionBy("seg").orderBy("band")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = spine.join(b, Seq("seg", "band"), "left")
          .select(col("seg"), col("band"),
            sum(coalesce(col("c"), lit(0L))).over(w).as("le"),
            sum(coalesce(col("c"), lit(0L)))
              .over(Window.partitionBy("seg")).as("n"))
        val uni = expr("CAST(conv(substr(md5(concat(seg, '#', " +
          "CAST(band AS STRING), 'p22')), 1, 8), 16, 10) AS BIGINT) " +
          "/ 4294967296.0")
        val u = lit(0) - abs(lit(2) * col("le") - col("n"))
        val sc = cum.select(col("seg"), col("band"), col("n"), u.as("u"),
          round(lit(0.25) * u - log(lit(0) - log(uni)), 6).as("score"))
        val pick = sc
          .withColumn("rd", row_number().over(
            Window.partitionBy("seg").orderBy(col("score").desc, col("band"))))
          .withColumn("rt", row_number().over(
            Window.partitionBy("seg").orderBy(col("u").desc, col("band"))))
        val t = pick.filter(col("rt") === 1)
          .select(col("seg"), col("n"), col("band").as("true_band"))
        val dp = pick.filter(col("rd") === 1)
          .select(col("seg").as("seg2"), col("band").as("dp_band"))
        t.join(dp, col("seg") === col("seg2"))
          .select(col("seg"), col("n").cast("long").as("n"),
            col("true_band").cast("long").as("true_band"),
            col("dp_band").cast("long").as("dp_band"),
            (lit(-770.0) + col("dp_band") * 460.0).as("dp_value"))
      }
    },

    Query("p16_dp_counts",
      """WITH g AS (
        |  SELECT n_name AS nation, c_mktsegment AS seg, count(*) AS n_true
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |u AS (
        |  SELECT nation, seg, n_true,
        |         CAST('0x' || substr(md5(nation || '|' || seg || 'p16'), 1, 8)
        |              AS BIGINT) / 4294967296.0 - 0.5 AS v
        |  FROM g)
        |SELECT nation, seg, CAST(n_true AS BIGINT) AS n_true,
        |       n_true + round(-2.0 * CAST(sign(v) AS DOUBLE)
        |                      * ln(1.0 - 2.0 * abs(v)), 6) AS n_noisy
        |FROM u""".stripMargin) {
      (s, d) => {
        val g = Tables.customer(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name").as("nation"), col("c_mktsegment").as("seg"))
          .agg(count(lit(1)).as("n_true"))
        graft.operators.Sanitize.dpNoisyCount(g, Seq("nation", "seg"),
            epsilon = 0.5, seed = "p16")
          .select(col("nation"), col("seg"),
            col("n_true").cast("long").as("n_true"), col("n_noisy"))
      }
    },

    // ---- P17: k-anonymity generalization ladder ------------------------------
    // p15 suppresses every sub-k cell; the generalization ladder
    // releases more: (nation, seg) groups under k = 8 re-group as
    // (region, seg), and only cells small at BOTH levels suppress.
    // Two QI-cardinality-sized aggregates joined back (the coarse one
    // over the residual rows only — generalized counts must reflect the
    // actual released cohort, not the full population).
    Query("p17_k_anon_ladder",
      """WITH j AS (
        |  SELECT c_custkey, n_name AS nation, r_name AS region,
        |         c_mktsegment AS seg
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |                JOIN region ON n_regionkey = r_regionkey),
        |f AS (SELECT nation, seg, count(*) AS fn FROM j GROUP BY 1, 2),
        |resid AS (SELECT j.region, j.seg, count(*) AS cn
        |          FROM j JOIN f ON j.nation = f.nation AND j.seg = f.seg
        |          WHERE f.fn < 8 GROUP BY 1, 2)
        |SELECT c_custkey,
        |       CASE WHEN fn >= 8 THEN j.nation END AS nation,
        |       CASE WHEN fn >= 8 OR coalesce(cn, 0) >= 8 THEN j.region END AS region,
        |       CASE WHEN fn >= 8 OR coalesce(cn, 0) >= 8 THEN j.seg END AS seg,
        |       CASE WHEN fn >= 8 THEN 'fine'
        |            WHEN coalesce(cn, 0) >= 8 THEN 'coarse'
        |            ELSE 'suppressed' END AS anon_level
        |FROM j JOIN f ON j.nation = f.nation AND j.seg = f.seg
        |LEFT JOIN resid r ON j.region = r.region AND j.seg = r.seg""".stripMargin) {
      (s, d) => {
        val j = Tables.customer(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("c_custkey"), col("n_name").as("nation"),
            col("r_name").as("region"), col("c_mktsegment").as("seg"))
        graft.operators.Sanitize.kAnonymizeLadder(j,
            Seq("nation", "seg"), Seq("region", "seg"), k = 8L)
          .select("c_custkey", "nation", "region", "seg", "anon_level")
      }
    },

    // ---- P18: per-entity consistent date shifting -----------------------------
    // p05 jitters SPACE; this de-identifies TIME the HIPAA way: every
    // timestamp of a user shifts by the same seeded offset in +/-30
    // days, so within-user intervals survive exactly while absolute
    // dates break linkage. Offset replayed by the oracle from the md5;
    // narrow projection, no shuffle.
    Query("p18_date_shift",
      """SELECT event_id,
        |       ts + (CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || 'p18'),
        |                                 1, 8) AS BIGINT) % 61 - 30)
        |            * INTERVAL 1 DAY AS ts,
        |       CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || 'p18'),
        |                                1, 8) AS BIGINT) % 61 - 30 AS INT)
        |         AS shift_days
        |FROM events""".stripMargin) {
      (s, d) =>
        graft.operators.Sanitize.shiftDates(
            Tables.events(s, d).select("event_id", "user_id", "ts"),
            "user_id", Seq("ts"), maxDays = 30, seed = "p18")
          .select("event_id", "ts", "shift_days")
    },

    // ---- P19: l-diversity audit -------------------------------------------------
    // p15/p17 bound cohort SIZE; a k-large cohort whose sensitive
    // attribute is homogeneous still leaks it (everyone in the cell has
    // a negative balance). Per (nation, segment) cohort: distinct
    // sensitive-band count, entropy diversity exp(H) (effective number
    // of sensitive values, 6-dp decimal terms so the sum is
    // order-independent), and the l >= 3 release flag. One (QI, sens)
    // hash agg is the only data-sized pass.
    Query("p19_l_diversity",
      """WITH j AS (
        |  SELECT n_name AS nation, c_mktsegment AS seg,
        |         CASE WHEN c_acctbal < 0 THEN 'neg'
        |              WHEN c_acctbal < 3000 THEN 'low'
        |              WHEN c_acctbal < 7000 THEN 'mid'
        |              ELSE 'high' END AS sens
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |vc AS (SELECT nation, seg, sens, count(*) AS c FROM j GROUP BY 1, 2, 3),
        |coh AS (SELECT nation, seg, sum(c) AS n, count(*) AS ldist
        |        FROM vc GROUP BY 1, 2),
        |ent AS (SELECT vc.nation, vc.seg,
        |               sum(CAST(round((0.0 - CAST(c AS DOUBLE) / n)
        |                              * ln(CAST(c AS DOUBLE) / n), 6)
        |                        AS DECIMAL(18,6))) AS ent
        |        FROM vc JOIN coh ON vc.nation = coh.nation AND vc.seg = coh.seg
        |        GROUP BY 1, 2)
        |SELECT coh.nation, coh.seg, CAST(n AS BIGINT) AS n,
        |       CAST(ldist AS BIGINT) AS l_distinct,
        |       round(exp(CAST(ent AS DOUBLE)), 6) AS entropy_l,
        |       ldist >= 3 AS diverse
        |FROM coh JOIN ent ON coh.nation = ent.nation AND coh.seg = ent.seg""".stripMargin) {
      (s, d) => {
        val j = Tables.customer(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name").as("nation"), col("c_mktsegment").as("seg"),
            when(col("c_acctbal") < 0, "neg")
              .when(col("c_acctbal") < 3000, "low")
              .when(col("c_acctbal") < 7000, "mid")
              .otherwise("high").as("sens"))
        graft.operators.Sanitize.lDiversityAudit(j,
          Seq("nation", "seg"), "sens", l = 3L)
      }
    },

    // ---- P21: t-closeness audit (ordered EMD) -------------------------------------
    // The third rung of the release ladder (p15/p17 cohort size, p19
    // within-cohort diversity): is each cohort's SENSITIVE DISTRIBUTION
    // close to the global one? For the ordered balance bands the earth-
    // mover distance is the mean |cumulative difference|; both
    // cumulatives stay RATIONAL (cumQ/nq vs cumP/np) by cross-
    // multiplying to the exact BIGINT numerator |cumQ*np - cumP*nq|, so
    // the release flag (EMD <= 0.2) is decided in EXACT integers
    // (5*num_sum <= 3*nq*np) — no float boundary anywhere. A cohort x
    // band spine keeps missing bands contributing their full deficit.
    Query("p21_t_closeness",
      """WITH j AS (
        |  SELECT n_name AS nation, c_mktsegment AS seg,
        |         CASE WHEN c_acctbal < 0 THEN 0
        |              WHEN c_acctbal < 3000 THEN 1
        |              WHEN c_acctbal < 7000 THEN 2
        |              ELSE 3 END AS band
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |g AS (SELECT band, count(*) AS pc FROM j GROUP BY 1),
        |np AS (SELECT sum(pc) AS np FROM g),
        |coh AS (SELECT nation, seg, count(*) AS nq FROM j GROUP BY 1, 2),
        |q AS (SELECT nation, seg, band, count(*) AS qc FROM j GROUP BY 1, 2, 3),
        |spine AS (
        |  SELECT coh.nation, coh.seg, coh.nq, b.range AS band
        |  FROM coh CROSS JOIN range(0, 4) b),
        |cum AS (
        |  SELECT s.nation, s.seg, s.nq, s.band,
        |         sum(coalesce(qc, 0)) OVER w AS cq,
        |         sum(pc) OVER w AS cp
        |  FROM spine s
        |  LEFT JOIN q ON s.nation = q.nation AND s.seg = q.seg AND s.band = q.band
        |  JOIN g ON s.band = g.band
        |  WINDOW w AS (PARTITION BY s.nation, s.seg ORDER BY s.band)),
        |e AS (SELECT cum.nation, cum.seg, nq,
        |             sum(abs(cq * np - cp * nq)) AS num
        |      FROM cum, np GROUP BY 1, 2, 3, np)
        |SELECT e.nation, e.seg, CAST(nq AS BIGINT) AS n,
        |       CAST(num AS DOUBLE) / (CAST(nq AS DOUBLE) * np) / 3.0 AS emd,
        |       5 * num <= 3 * nq * np AS tclose_ok
        |FROM e, np""".stripMargin) {
      (s, d) => {
        // global + cohort aggregates share one scan
        val j = Materialize.pin(Tables.customer(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name").as("nation"), col("c_mktsegment").as("seg"),
            when(col("c_acctbal") < 0, 0)
              .when(col("c_acctbal") < 3000, 1)
              .when(col("c_acctbal") < 7000, 2)
              .otherwise(3).as("band")))
        val g = j.groupBy("band").agg(count(lit(1)).as("pc"))
        val np = g.agg(sum("pc").as("np"))
        val coh = j.groupBy("nation", "seg").agg(count(lit(1)).as("nq"))
        val q = j.groupBy("nation", "seg", "band").agg(count(lit(1)).as("qc"))
        val spine = coh.select(col("nation"), col("seg"), col("nq"),
          explode(sequence(lit(0), lit(3))).as("band"))
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("nation", "seg").orderBy("band")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = spine
          .join(q, Seq("nation", "seg", "band"), "left")
          .join(broadcast(g), "band")
          .select(col("nation"), col("seg"), col("nq"), col("band"),
            sum(coalesce(col("qc"), lit(0L))).over(w).as("cq"),
            sum(col("pc")).over(w).as("cp"))
        val e = cum.crossJoin(broadcast(np))
          .groupBy("nation", "seg", "nq", "np")
          .agg(sum(abs(col("cq") * col("np") - col("cp") * col("nq"))).as("num"))
        e.select(col("nation"), col("seg"), col("nq").cast("long").as("n"),
          (col("num").cast("double") / (col("nq").cast("double") * col("np"))
            / lit(3.0)).as("emd"),
          (lit(5) * col("num") <= lit(3) * col("nq") * col("np")).as("tclose_ok"))
      }
    },

    // ---- P20: randomized response with debiasing --------------------------------
    // Local DP: p16 adds noise to AGGREGATES held by a trusted curator;
    // randomized response protects each record BEFORE collection — a
    // user's "did purchase" bit is reported truthfully only with
    // p = 0.75 (seeded md5 coin, replayable by the oracle). The release
    // aggregates the noisy bits and debiases: pi_hat =
    // (observed - 0.25) / 0.5, shown beside the true rate the curator
    // could never see. One user-level agg + a narrow projection +
    // a 4-cohort agg.
    Query("p20_randomized_response",
      """WITH users AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
        |  FROM events GROUP BY 1),
        |r AS (SELECT user_id % 4 AS cohort, b,
        |             CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
        |                                               || 'p20'), 1, 8) AS BIGINT)
        |                       / 4294967296.0 < 0.75
        |                  THEN b ELSE 1 - b END AS resp
        |      FROM users)
        |SELECT CAST(cohort AS BIGINT) AS cohort, count(*) AS n,
        |       CAST(sum(resp) AS BIGINT) AS n_yes_observed,
        |       (CAST(sum(resp) AS DOUBLE) / count(*) - 0.25) / 0.5 AS pi_hat,
        |       CAST(sum(b) AS DOUBLE) / count(*) AS true_rate
        |FROM r GROUP BY 1""".stripMargin) {
      (s, d) => {
        val users = Tables.events(s, d)
          .groupBy("user_id")
          .agg(max(when(col("event_type") === "purchase", 1).otherwise(0)).as("b"))
        graft.operators.Sanitize.randomizedResponse(users, "user_id", "b",
            pTruth = 0.75, seed = "p20")
          .groupBy((col("user_id") % 4).cast("long").as("cohort"))
          .agg(count(lit(1)).as("n"), sum("resp").as("sr"), sum("b").as("sb"))
          .select(col("cohort"), col("n"),
            col("sr").cast("long").as("n_yes_observed"),
            ((col("sr").cast("double") / col("n") - lit(0.25)) / lit(0.5))
              .as("pi_hat"),
            (col("sb").cast("double") / col("n")).as("true_rate"))
      }
    }
  )
}
