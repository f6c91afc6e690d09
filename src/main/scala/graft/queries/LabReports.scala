package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Materialize, Query, Tables}

/** The reference's lab sample-logging report family
  * (pipeline-reporting/R/lab/lab_reports.Rmd:140-357) — the last
  * reference report family without a dedicated oracle row (VERDICT r14
  * item 1):
  *
  *  - lab1/lab2 incidence records normalized with na_if('') and
  *    na_if('none') across the select columns (Rmd:134-145), then the
  *    per-status coalesce CASCADE picks the governing incidence code
  *    string (Rmd:136-143: Approved prefers select2 over select;
  *    Pending prefers its own select, then the match-tracking pair;
  *    Quarantine likewise with its own select; lab2 contributes ONLY
  *    quarantine incidences, Rmd:158-161);
  *  - the two forms bind_rows'd, the code string space-split + unnested
  *    (Rmd:192-194 — a NULL cascade survives as one NULL row, R's
  *    unnest-of-list(NA): explode_outer here), each code broadcast-
  *    joined to the tribble mapping for its long label (Rmd:178-190);
  *  - latest-per-sample dedup KEEPING ties: filter on
  *    SubmissionDate == max(SubmissionDate) per sample, not a
  *    row_number pick (Rmd:203-208);
  *  - the summary metric list (Rmd:215-240): field sample counts per
  *    study, "Samples logged in Lab" per study, the DERIVED
  *    "Samples to be logged in Lab" = field − lab (the reference joins
  *    its efficacy-only field row, so only efficacy gets the
  *    difference — quirk preserved), and "Samples {status}" slices —
  *    pivoted wide by study (Rmd:242-247).
  *
  * Engine order differs from the reference where it commutes: the
  * latest-per-sample window runs BEFORE the explode + mapping join
  * (max(submit) per sample is invariant under the fan-out, and the
  * filter only reads pre-explode columns), so the one shuffle of the
  * chain moves sample-keyed records, not sample×token rows. The
  * 8-row mapping broadcasts; at 100 TB the window is the only
  * sample-keyed exchange and everything after it is narrow.
  *
  * Fixture synthesis is a SHARED ANSI fragment per column (the
  * seIndicators device): Spark's expr() and DuckDB parse the same CASE
  * strings, so the fixture cannot drift between engines. Section (b)'s
  * field-not-in-lab anti-join display is the J3 shape (j03/j06) and
  * gets no third row.
  */
object LabReports {

  // ---- shared fixture fragments (ANSI CASE on lineitem/part columns) ------
  // Domains deliberately exercise EVERY normalization + cascade branch:
  // '', 'none', NULL, single codes, and two-token code strings.

  private val studyFrag =
    "CASE WHEN l_partkey % 4 = 0 THEN 'pk' ELSE 'efficacy' END"
  private val statusFrag =
    """CASE WHEN l_suppkey % 7 = 0 THEN NULL
      |     WHEN l_returnflag = 'A' THEN 'Approved'
      |     WHEN l_returnflag = 'N' THEN 'Pending'
      |     ELSE 'Quarantine' END""".stripMargin
  private val mt1Frag =
    """CASE l_suppkey % 10 WHEN 0 THEN '' WHEN 1 THEN 'none'
      |     WHEN 2 THEN 'date_unavailable' WHEN 3 THEN 'samples_not_dry'
      |     WHEN 4 THEN 'dbs_incomplete participant_issue'
      |     WHEN 5 THEN 'tracking_issue' WHEN 6 THEN 'data_mismatch icf_status'
      |     WHEN 7 THEN 'other' ELSE NULL END""".stripMargin
  private val mt2Frag =
    """CASE l_linenumber % 5 WHEN 0 THEN 'none'
      |     WHEN 1 THEN 'tracking_issue other' WHEN 2 THEN ''
      |     WHEN 3 THEN 'data_mismatch' ELSE NULL END""".stripMargin
  private val pendFrag =
    """CASE l_suppkey % 3 WHEN 0 THEN 'dbs_incomplete'
      |     WHEN 1 THEN 'none' ELSE NULL END""".stripMargin
  private val quarFrag =
    """CASE l_orderkey % 3 WHEN 0 THEN 'samples_not_dry participant_issue'
      |     WHEN 1 THEN '' ELSE 'icf_status' END""".stripMargin

  /** The reference's incidence-code tribble (lab_reports.Rmd:178-190) —
    * ONE Scala value generates both the broadcast dim and the oracle's
    * VALUES list. */
  private[graft] val codeMapping: Seq[(String, String)] = Seq(
    "date_unavailable" -> "Data not available",
    "samples_not_dry" -> "Samples not dry",
    "dbs_incomplete" -> "DBS incomplete",
    "participant_issue" -> "Participant not preselected or wrong age",
    "tracking_issue" -> "Sample not in the tracking form",
    "data_mismatch" -> "Data don't match",
    "icf_status" -> "ICF Status: Unresolved/Lost Not-Found",
    "other" -> "Other")

  private def sqlQuote(s: String) = "'" + s.replace("'", "''") + "'"
  private val mappingValuesSql = codeMapping
    .map { case (c, l) => s"(${sqlQuote(c)}, ${sqlQuote(l)})" }
    .mkString(", ")

  // ---- engine --------------------------------------------------------------

  private def naIf(c: Column): Column =
    when(c === "" || c === "none", lit(null)).otherwise(c)

  /** Rmd:118-161: normalize the incidence selects and run the
    * per-status coalesce cascade. Rows where `lab2When` holds use only
    * the quarantine select (the lab2 form, Rmd:158-161) — a COLUMN
    * predicate so both forms can ride ONE tagged scan (two filtered
    * scans of the same parquet never share work in Spark). Input
    * columns: sample, study, submit, sample_status, mt1, mt2, pend,
    * quar. */
  private[graft] def incidenceCascade(form: DataFrame,
                                      lab2When: Column): DataFrame = {
    val mt = coalesce(naIf(col("mt2")), naIf(col("mt1")))
    val lab1Inc = when(col("sample_status") === "Approved", mt)
      .when(col("sample_status") === "Pending",
        coalesce(naIf(col("pend")), mt))
      .when(col("sample_status") === "Quarantine",
        coalesce(naIf(col("quar")), mt))
    val lab2Inc = when(col("sample_status") === "Quarantine",
      naIf(col("quar")))
    form.select(col("sample"), col("study"), col("submit"),
      col("sample_status"),
      when(lab2When, lab2Inc).otherwise(lab1Inc).as("incidences"))
  }

  private[graft] def incidenceCascade(form: DataFrame,
                                      lab2: Boolean): DataFrame =
    incidenceCascade(form, lit(lab2))

  /** Rmd:176-208: bind the cascaded forms, keep each sample's
    * latest-submission rows (ALL ties — a filter, not a rank pick),
    * space-split + unnest the code string (NULL survives as one NULL
    * row), and broadcast-join the long labels. The window runs BEFORE
    * the explode — max(submit) per sample commutes with the fan-out,
    * so the one sample-keyed shuffle moves record rows, not
    * record×token rows. */
  private[graft] def latestIncidences(forms: DataFrame*): DataFrame = {
    val s = forms.head.sparkSession
    val mapping = s.createDataFrame(codeMapping).toDF("code", "incidence_long")
    val unioned = forms.reduce(_ unionByName _)
    val latest = unioned
      .withColumn("mx", max("submit").over(Window.partitionBy("sample")))
      .filter(col("submit") === col("mx")).drop("mx")
    latest
      .withColumn("code", explode_outer(split(col("incidences"), " ")))
      .drop("incidences")
      .join(broadcast(mapping), Seq("code"), "left")
  }

  /** Rmd:215-247: the summary metric list, pivoted wide by study.
    * field/logged counts run as grouped distinct-counts (equivalent to
    * the reference's per-study summarise calls whenever both studies
    * exist in the data — every sf has both; a groupBy drops an absent
    * study where the reference would emit a 0 row).
    *
    * BOTH logged metrics come from ONE pass over the heavy subtree:
    * the distinct (study, status, sample) base — O(samples) rows, slim
    * — is localCheckpointed, then ONE rollup gives the (study) level
    * ("Samples logged in Lab": a sample whose latest ties mix statuses
    * counts once there, NOT the sum of its status slices) AND the
    * (study, status) level ("Samples {status}"). Without the pin the
    * scan+window+explode subtree replays per consumer (Spark shares no
    * common subplans; the direct 3-consumer form measured 3.5 s at
    * sf0.1). The rollup also MUST sit above the checkpoint: rollup's
    * Expand over a plan containing the using-join below trips
    * DetectAmbiguousSelfJoin (Spark quirk — the duplicated grouping
    * attrs read as a self-join of the join's legs); over the
    * checkpoint's LogicalRDD it analyzes clean. */
  private[graft] def labSummary(inc: DataFrame, field: DataFrame): DataFrame = {
    val logged = inc.filter(col("sample_status").isNotNull)
    val base = Materialize.pin(logged.select("study", "sample_status", "sample")
      .distinct())
    // agg feeds two branches (smplAll + byStatus); unpinned, the
    // rollup's Expand pass over base runs once per consumer. It is
    // ≤ (studies+1) x (statuses+1) rows.
    val agg = Materialize.small(base.rollup("study", "sample_status")
      .agg(countDistinct("sample").as("val"), grouping_id().as("g")))
    // fieldCnt replays for its two consumers — the field scan is a
    // key-pruned dim read, cheaper than an eager checkpoint job
    val fieldCnt = field.groupBy("study")
      .agg(countDistinct("sample").as("val"))
      .select(col("study"),
        lit("Samples collected to date (field)").as("metric"), col("val"))
    val smplAll = agg.filter(col("g") === 1)
      .select(col("study"), lit("Samples logged in Lab").as("metric"),
        col("val"))
    val byStatus = agg.filter(col("g") === 0)
      .select(col("study"),
        concat(lit("Samples "), col("sample_status")).as("metric"), col("val"))
    // longm is consumed TWICE (the final union and the needLog fold),
    // and inside it `agg` feeds two branches — without a pin the
    // rollup's Expand pass over base runs 4x and the field scan 2x
    // (StageProfile r16: four ~4 s t=10 expand/partial stages + six
    // single-task finals, ~24 s of the row's 25 s profile wall). The
    // table is ≤ metrics x studies rows.
    val longm = Materialize.small(fieldCnt.unionByName(smplAll).unionByName(byStatus))
    // the reference inner-joins its EFFICACY-ONLY field row, so pk
    // never gets a to-be-logged difference (Rmd:228-233) — preserved.
    // Derived as a conditional-sum fold over the long table, not a
    // join: the checkpointed aggregates feed several branches and a
    // join between two of them trips DetectAmbiguousSelfJoin; the
    // null-guard reproduces the inner join (no row unless BOTH counts
    // exist).
    val needLog = longm
      .filter(col("study") === "efficacy")
      .groupBy("study")
      .agg((sum(when(col("metric") === "Samples collected to date (field)",
          col("val")))
        - sum(when(col("metric") === "Samples logged in Lab", col("val"))))
        .as("val"))
      .filter(col("val").isNotNull)
      .select(col("study"), lit("Samples to be logged in Lab").as("metric"),
        col("val"))
    longm.unionByName(needLog)
      .groupBy("metric").pivot("study", Seq("efficacy", "pk"))
      .agg(first("val"))
  }

  // ---- fixture wiring ------------------------------------------------------

  /** lab1 = the 'F'-linestatus slice, lab2 = the 'O' slice — BOTH on
    * one tagged scan (the g38 fold): the cascade picks the lab2 rule
    * where src = 'O'. Every synthesis column is a shared fragment. */
  private def labForms(s: org.apache.spark.sql.SparkSession,
                       d: String): DataFrame =
    Tables.lineitem(s, d).filter(col("l_linestatus").isin("F", "O"))
      .select(col("l_partkey").as("sample"), expr(studyFrag).as("study"),
        col("l_shipdate").cast("date").as("submit"),
        expr(statusFrag).as("sample_status"),
        expr(mt1Frag).as("mt1"), expr(mt2Frag).as("mt2"),
        expr(pendFrag).as("pend"), expr(quarFrag).as("quar"),
        col("l_linestatus").as("src"))

  private def cascaded(s: org.apache.spark.sql.SparkSession,
                       d: String): DataFrame =
    incidenceCascade(labForms(s, d), col("src") === "O")

  /** The field metadata (lab_metadata CSV in the reference — the
    * upstream sample registry): one row per part, same study rule as
    * the lab forms so the per-study difference is key-consistent. */
  private def fieldMeta(s: org.apache.spark.sql.SparkSession,
                        d: String): DataFrame =
    Tables.part(s, d).select(col("p_partkey").as("sample"),
      expr("CASE WHEN p_partkey % 4 = 0 THEN 'pk' ELSE 'efficacy' END")
        .as("study"),
      (col("p_partkey") % 997).as("extid"), col("p_size").as("age"),
      col("p_brand").as("visit"))

  private def oracleCommon: String =
    s"""WITH lab1 AS (
       |  SELECT l_partkey AS sample, $studyFrag AS study,
       |         CAST(l_shipdate AS DATE) AS submit,
       |         $statusFrag AS sample_status,
       |         nullif(nullif($mt1Frag, ''), 'none') AS mt1,
       |         nullif(nullif($mt2Frag, ''), 'none') AS mt2,
       |         nullif(nullif($pendFrag, ''), 'none') AS pend,
       |         nullif(nullif($quarFrag, ''), 'none') AS quar
       |  FROM lineitem WHERE l_linestatus = 'F'),
       |lab2 AS (
       |  SELECT l_partkey AS sample, $studyFrag AS study,
       |         CAST(l_shipdate AS DATE) AS submit,
       |         $statusFrag AS sample_status,
       |         nullif(nullif($quarFrag, ''), 'none') AS quar
       |  FROM lineitem WHERE l_linestatus = 'O'),
       |l1m AS (
       |  SELECT sample, study, submit, sample_status,
       |         CASE sample_status
       |           WHEN 'Approved' THEN coalesce(mt2, mt1)
       |           WHEN 'Pending' THEN coalesce(pend, mt2, mt1)
       |           WHEN 'Quarantine' THEN coalesce(quar, mt2, mt1)
       |         END AS incidences
       |  FROM lab1),
       |l2m AS (
       |  SELECT sample, study, submit, sample_status,
       |         CASE WHEN sample_status = 'Quarantine' THEN quar END
       |           AS incidences
       |  FROM lab2),
       |unioned AS (SELECT * FROM l1m UNION ALL SELECT * FROM l2m),
       |latest AS (
       |  SELECT * FROM (SELECT *, max(submit) OVER (PARTITION BY sample) AS mx
       |                 FROM unioned)
       |  WHERE submit = mx),
       |mapping(code, incidence_long) AS (VALUES $mappingValuesSql),
       |unnested AS (
       |  SELECT sample, study, submit, sample_status,
       |         unnest(CASE WHEN incidences IS NULL
       |                     THEN [CAST(NULL AS VARCHAR)]
       |                     ELSE string_split(incidences, ' ') END) AS code
       |  FROM latest),
       |inc AS (
       |  SELECT u.sample, u.study, u.submit, u.sample_status,
       |         m.incidence_long
       |  FROM unnested u LEFT JOIN mapping m ON u.code = m.code),
       |field AS (
       |  SELECT p_partkey AS sample,
       |         CASE WHEN p_partkey % 4 = 0 THEN 'pk' ELSE 'efficacy' END
       |           AS study,
       |         p_partkey % 997 AS extid, p_size AS age,
       |         p_brand AS visit
       |  FROM part)""".stripMargin

  val queries: Seq[Query] = Seq(

    // ---- g41: the lab summary metric list (Rmd section a) -------------------
    Query("g41_lab_reports",
      oracleCommon +
      """,
        |logged AS (SELECT * FROM inc WHERE sample_status IS NOT NULL),
        |fieldcnt AS (
        |  SELECT study, 'Samples collected to date (field)' AS metric,
        |         CAST(count(DISTINCT sample) AS BIGINT) AS val
        |  FROM field GROUP BY 1),
        |smplall AS (
        |  SELECT study, 'Samples logged in Lab' AS metric,
        |         CAST(count(DISTINCT sample) AS BIGINT) AS val
        |  FROM logged GROUP BY 1),
        |needlog AS (
        |  SELECT f.study, 'Samples to be logged in Lab' AS metric,
        |         f.val - s.val AS val
        |  FROM fieldcnt f JOIN smplall s ON f.study = s.study
        |  WHERE f.study = 'efficacy'),
        |bystatus AS (
        |  SELECT study, 'Samples ' || sample_status AS metric,
        |         CAST(count(DISTINCT sample) AS BIGINT) AS val
        |  FROM logged GROUP BY study, sample_status),
        |longm AS (SELECT * FROM fieldcnt UNION ALL SELECT * FROM smplall
        |          UNION ALL SELECT * FROM needlog
        |          UNION ALL SELECT * FROM bystatus)
        |SELECT metric,
        |       max(CASE WHEN study = 'efficacy' THEN val END) AS efficacy,
        |       max(CASE WHEN study = 'pk' THEN val END) AS pk
        |FROM longm GROUP BY metric""".stripMargin) { (s, d) =>
      labSummary(latestIncidences(cascaded(s, d)), fieldMeta(s, d))
    },

    // ---- g42: the lab interactive detail (Rmd section c) --------------------
    // field metadata INNER-joined to the latest incidences by sample
    // with the mapped long labels, status-non-null rows only — a row
    // per (sample attrs, incidence token), so the cascade, the unnest
    // fan-out, the mapping labels, AND the latest-ties dedup are all
    // under the hash at row granularity (the summary row only counts
    // distinct samples). Section (b)'s not-yet-logged display is the
    // J3 anti-join shape — covered by j03/j06, no third row.
    Query("g42_lab_interactive",
      oracleCommon +
      """
        |SELECT f.extid, f.sample, f.study, f.age, f.visit,
        |       i.sample_status, i.incidence_long AS incidences, i.submit
        |FROM field f JOIN inc i ON f.sample = i.sample
        |WHERE i.sample_status IS NOT NULL""".stripMargin) { (s, d) =>
      val inc = latestIncidences(cascaded(s, d))
        .filter(col("sample_status").isNotNull)
        // the reference's select keeps lab_metadata's study; the lab
        // side's is the same formula on the same key — drop it (and the
        // raw code) so the join is unambiguous
        .drop("study", "code")
      fieldMeta(s, d)
        .join(inc, Seq("sample"))
        .select(col("extid"), col("sample"), col("study"), col("age"),
          col("visit"), col("sample_status"),
          col("incidence_long").as("incidences"), col("submit"))
    }
  )
}
