package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{Materialize, Query, Tables}

/** Report-table computations (SURVEY.md §2.7 conditional surface): the
  * reference's status/reason decision tables (60-branch case_when
  * chains), weight-band dosing, and metric pivots with derived ratios.
  * Big when/otherwise chains constant-fold and stay inside
  * WholeStageCodegen — they cost nothing beyond the scan.
  */
object Reporting {

  /** g29's 9 indicator slices — the full fan-out of the reference's
    * se_and_pfu "S&E by Assignment" report
    * (pipeline-reporting/R/safety-efficacy/se_and_pfu.Rmd:427-527),
    * which preps safety_overall / in / in_absent / refusal / eos / out /
    * out_absent / migrated / died off ONE merged safety table, binds
    * the per-assignment target table across the visit list, pivots the
    * metrics wide, and derives coverage percentages. One definition
    * drives BOTH the engine aggregates and the DuckDB oracle SQL so the
    * 18 metric columns can never drift between them.
    * Condition strings are ANSI SQL that Spark's expr() and DuckDB parse
    * identically (=, AND, boolean column refs). */
  private val seIndicators: Seq[(String, String)] = Seq(
    "overall"    -> "TRUE",
    "in"         -> "status = 'in'",
    "in_absent"  -> "status = 'in' AND reason = 'Absent'",
    "refusal"    -> "is_refusal",
    "eos"        -> "status = 'eos'",
    "out"        -> "status = 'out'",
    "out_absent" -> "status = 'out' AND reason = 'Absent'",
    "migrated"   -> "reason = 'Migrated'",
    "died"       -> "reason = 'Died'")

  /** r18's branch table — the reference's safety_reason chain at FULL
    * width (safety_status_and_reason_for_safety_status.Rmd:235-295: 30
    * first-match-wins reasons over 57 OR'd conditions) plus its 6-branch
    * took_drug chain (ibid:221-234, with the is-NULL branches). Each
    * entry is (reason, disjunct SQL conditions); every condition's input
    * flags are derived from one `sel` slot so every single disjunct —
    * not just every reason — is exercised by the fixture. The SQL
    * strings are ANSI that Spark expr() and DuckDB parse identically,
    * so ONE definition drives both engines. */
  private val srReasons: Seq[(String, Seq[String])] = Seq(
    "died" -> Seq("person_died_eos = '1'", "person_out_died = '1'"),
    "migrated" -> Seq(
      "person_migrated = '1' AND starting_safety_status = 'in'",
      "person_out_migrated = '1'", "v4_migrate_absent_eos = '1'"),
    "not resident" -> Seq("non_resident_eos = '1'"),
    "under weight" -> Seq("weight_eos = '1'", "weight_eos_short = '1'"),
    "study drug" -> Seq("study_drug_eos = '1'"),
    "concom meds" -> Seq("concom_meds_eos = '1'", "concom_meds_eos_short = '1'"),
    "severe illness" -> Seq("severe_illness_eos = '1'",
      "severe_illness_eos_short = '1'", "obvious_screening = 'Ill'"),
    "baby under 1 week" -> Seq("baby_not_week_old_eos = '1'"),
    "pregnancy test refusal" -> Seq(
      "preg_test_refuse_eos_short = '1'", "preg_test_refuse_eos_v4 = '1'",
      "preg_test_2_refuse_eos_v4 = '1'", "pregnancy_section_eos_v4 = '1'",
      "accept_preg_test_yn = 'refuse'", "accept_preg_test_yn_short = 'refuse'",
      "accept_preg_test_yn_v4 = 'refuse'", "preg_test_2_result = 'refuse'",
      "preg_test_2_result_short = 'refuse'", "preg_test_2_result_v4 = 'refuse'"),
    "pregnant" -> Seq("pregnant_eos = '1'", "preg_test_pos_eos_short = '1'",
      "preg_test_2_eos_short = '1'", "obvious_screening = 'Pregnant'",
      "pregnancy_section_eos_short = '1'", "pregnancy_section_eos = '1'",
      "preg_test_pos_v4 = '1'", "pregnancy_status_v4 = 'in'"),
    "other trials" -> Seq("other_trials_eos = '1'"),
    "visited loa loa" -> Seq("loa_loa_eos = '1'"),
    "spent night at the hospital" -> Seq("sum_night_hospital_eos >= 1"),
    "not agree to safety procedures" ->
      Seq("not_agree_safety_procedures_eos = '1'"),
    "participant withdrew informed consent (refuse drug)" ->
      Seq("refuse_drug_eos = '1'", "refuse_drug_eos_2 = '1'"),
    "not wish to continue" -> Seq("not_continue_eos = '1'"),
    "Ineligible at obvious reasoning" -> Seq("obvious_screening = 'ineligible'"),
    "A baby that cannot walk yet" -> Seq("obvious_screening = 'Baby'"),
    "no witness" -> Seq("obvious_screening = 'Witness'",
      "ind_witness_present = '1'"),
    "absent" -> Seq("person_absent = '1'", "v4_absent_eos = '1'"),
    "a person who does not want to participate" ->
      Seq("obvious_screening = 'Refusal'"),
    "does not speak English or Swahili" -> Seq("obvious_screening = 'Language'"),
    "not consented or provided their thumbprint" ->
      Seq("ind_thumbprint_status = '0'"),
    "not agree or sign informed consent" -> Seq("ind_sign_icf_status = '0'"),
    "minor not sign assent" -> Seq("minor_assent_status = '0'"),
    "completion" -> Seq("safety_status = 'completion'"),
    "in" -> Seq("safety_status = 'in'"),
    "previously eos" -> Seq("starting_safety_status = 'eos'"),
    "previously refusal" -> Seq("starting_safety_status = 'refusal'"),
    "previously out" -> Seq("starting_safety_status = 'out'", "out_v4 = '1'"))

  /** Fixture flag derivations: each simple '1' flag owns the sel slot of
    * its disjunct (reference order), multi-value columns own one slot per
    * value, the migrated compound slot (2) sets BOTH its inputs, and the
    * took_drug slots (57-62) each arm exactly one drug branch. Slot 63 is
    * the reference's `safety_status != 'UNDEFINED'` filter row; 64-66
    * fall through every branch to the NULL default. */
  private val srFlagDefs: Seq[String] = {
    def flag(name: String, slot: Int, v: String = "1") =
      s"CASE WHEN sel = $slot THEN '$v' END AS $name"
    Seq(
      flag("person_died_eos", 0), flag("person_out_died", 1),
      flag("person_migrated", 2),
      flag("person_out_migrated", 3), flag("v4_migrate_absent_eos", 4),
      flag("non_resident_eos", 5),
      flag("weight_eos", 6), flag("weight_eos_short", 7),
      flag("study_drug_eos", 8),
      flag("concom_meds_eos", 9), flag("concom_meds_eos_short", 10),
      flag("severe_illness_eos", 11), flag("severe_illness_eos_short", 12),
      flag("baby_not_week_old_eos", 14),
      flag("preg_test_refuse_eos_short", 15), flag("preg_test_refuse_eos_v4", 16),
      flag("preg_test_2_refuse_eos_v4", 17), flag("pregnancy_section_eos_v4", 18),
      flag("accept_preg_test_yn", 19, "refuse"),
      flag("accept_preg_test_yn_short", 20, "refuse"),
      flag("accept_preg_test_yn_v4", 21, "refuse"),
      flag("preg_test_2_result", 22, "refuse"),
      flag("preg_test_2_result_short", 23, "refuse"),
      flag("preg_test_2_result_v4", 24, "refuse"),
      flag("pregnant_eos", 25), flag("preg_test_pos_eos_short", 26),
      flag("preg_test_2_eos_short", 27),
      flag("pregnancy_section_eos_short", 29), flag("pregnancy_section_eos", 30),
      flag("preg_test_pos_v4", 31),
      flag("pregnancy_status_v4", 32, "in"),
      flag("other_trials_eos", 33),
      flag("loa_loa_eos", 34),
      "CASE WHEN sel = 35 THEN 1 ELSE 0 END AS sum_night_hospital_eos",
      flag("not_agree_safety_procedures_eos", 36),
      flag("refuse_drug_eos", 37), flag("refuse_drug_eos_2", 38),
      flag("not_continue_eos", 39),
      """CASE sel WHEN 13 THEN 'Ill' WHEN 28 THEN 'Pregnant'
        |     WHEN 40 THEN 'ineligible' WHEN 41 THEN 'Baby'
        |     WHEN 42 THEN 'Witness' WHEN 46 THEN 'Refusal'
        |     WHEN 47 THEN 'Language' END AS obvious_screening"""
        .stripMargin.replaceAll("\\s+", " "),
      flag("ind_witness_present", 43),
      flag("person_absent", 44), flag("v4_absent_eos", 45),
      flag("ind_thumbprint_status", 48, "0"),
      flag("ind_sign_icf_status", 49, "0"),
      flag("minor_assent_status", 50, "0"),
      ("CASE sel WHEN 51 THEN 'completion' WHEN 52 THEN 'in' " +
        "WHEN 63 THEN 'UNDEFINED' ELSE 'eos' END AS safety_status"),
      ("CASE sel WHEN 2 THEN 'in' WHEN 53 THEN 'eos' " +
        "WHEN 54 THEN 'refusal' WHEN 55 THEN 'out' END AS starting_safety_status"),
      flag("out_v4", 56),
      ("CASE sel WHEN 57 THEN 'no' WHEN 58 THEN 'yes' " +
        "WHEN 62 THEN 'no' END AS participant_take_drug"),
      flag("participant_take_drug_2", 57, "yes"),
      ("CASE sel WHEN 59 THEN 'no' WHEN 60 THEN 'yes' " +
        "WHEN 61 THEN 'no' END AS take_drug_safetynew"),
      flag("take_drug_2_safetynew", 59, "yes"))
  }

  /** The generated first-match-wins CASE expressions (shared verbatim by
    * Spark expr() and the DuckDB oracle). */
  private val srReasonCase: String =
    srReasons.map { case (r, ds) =>
      s"WHEN ${ds.mkString("(", ") OR (", ")")} THEN '${r.replace("'", "''")}'"
    }.mkString("CASE ", " ", " END")

  private val srDrugCase: String =
    """CASE
      | WHEN participant_take_drug = 'no' AND participant_take_drug_2 = 'yes' THEN 'yes'
      | WHEN participant_take_drug = 'yes' THEN 'yes'
      | WHEN take_drug_safetynew = 'no' AND take_drug_2_safetynew = 'yes' THEN 'yes'
      | WHEN take_drug_safetynew = 'yes' THEN 'yes'
      | WHEN take_drug_safetynew = 'no' AND take_drug_2_safetynew IS NULL THEN 'no'
      | WHEN participant_take_drug = 'no' AND participant_take_drug_2 IS NULL THEN 'no'
      |END""".stripMargin.replaceAll("\\s+", " ")

  /** r21's efficacy_reason chain (efficacy_status_and_reason Rmd:177-196)
    * — 13 first-match branches, one consuming the WINDOWED ltfu state.
    * Shared verbatim by Spark expr() and the DuckDB oracle. */
  private val SrEfficacyReason: String =
    """CASE WHEN not_continue_eos = '1' THEN 'decline participation'
      | WHEN not_agree_efficacy_procedures_eos = '1' THEN 'not agree to efficacy procedures'
      | WHEN non_resident_eos = '1' THEN 'not a resident'
      | WHEN other_trials_eos = '1' THEN 'enrolled in other trials'
      | WHEN second_consecutive_absence_eos = '1' THEN 'ltfu: second consecutive absence'
      | WHEN person_absent = '1' THEN 'absent'
      | WHEN person_migrated_eos = '1' OR person_unenrolled_migrated = '1' THEN 'migrated'
      | WHEN person_unenrolled_died = '1' THEN 'died'
      | WHEN thumbprint_status = '0' THEN 'thumbprint status'
      | WHEN sign_icf_status = '0' THEN 'sign icf status'
      | WHEN minor_assent_status = '0' THEN 'minor assent'
      | WHEN ltfu THEN 'ltfu: > 60 days'
      | WHEN efficacy_status = 'in' THEN 'in'
      |END""".stripMargin.replaceAll("\\s+", " ")

  /** r22's pfu reason chain (pfu_status_and_reason.Rmd:144-161): 'in'
    * first, five compound value-matched still_preg branches, NO default
    * (the reference's commented-out catch-all) — an unmatched reason
    * value falls through to NULL. Shared by Spark expr() and the oracle. */
  private val SrPfuReason: String =
    """CASE WHEN pregnancy_status = 'in' THEN 'in'
      | WHEN ltfu_eos = '1' OR fourth_absence_eos = '1' THEN 'absent 4 times in a row: ltfu'
      | WHEN person_died_eos = '1' THEN 'died'
      | WHEN person_migrated_eos = '1' THEN 'migrated'
      | WHEN not_continue_eos = '1' THEN 'not wish to continue'
      | WHEN still_preg_no_eos = '1' AND still_preg_no_reason = 'Baby was born alive' THEN 'no longer pregnant - baby born alive'
      | WHEN still_preg_no_eos = '1' AND still_preg_no_reason = 'Miscarriage' THEN 'no longer pregnant - miscarriage'
      | WHEN still_preg_no_eos = '1' AND still_preg_no_reason = 'Abortion (self-induced)' THEN 'no longer pregnant - abortion (self-induced)'
      | WHEN still_preg_no_eos = '1' AND still_preg_no_reason = 'Baby was born dead' THEN 'no longer pregnant - baby was born dead'
      | WHEN still_preg_no_eos = '1' AND still_preg_no_reason = 'pna' THEN 'no longer pregnant - prefer not to answer'
      |END""".stripMargin.replaceAll("\\s+", " ")

  private val srArmCase: String =
    "CASE o_custkey % 4 WHEN 0 THEN 'control' WHEN 1 THEN 'intervention_a' " +
      "WHEN 2 THEN 'intervention_b' ELSE 'buffer' END"

  /** g43's shared fixture fragments (engine expr() and DuckDB parse the
    * same ANSI strings): the form tag each monitoring record belongs
    * to, and that form's SubmissionDate floor (the reference hardcodes
    * one floor per variant Rmd; distinct values here exercise the
    * knob). Event rows synthesize open records under event_id and
    * resolve records under event_id - 5, so the form CASE keys on the
    * OPEN record's id in both uses. */
  private[graft] val SiteUiFormFrag: String =
    """CASE event_id % 4 WHEN 0 THEN 'CRA' WHEN 1 THEN 'ICF'
      |     WHEN 2 THEN 'LAB' ELSE 'PHARM' END""".stripMargin
  private[graft] val SiteUiFloorFrag: String =
    """CASE form WHEN 'ICF' THEN DATE '2024-01-08'
      |     WHEN 'LAB' THEN DATE '2024-01-15'
      |     ELSE DATE '2024-01-01' END""".stripMargin

  val queries: Seq[Query] = Seq(

    // ---- r18: status/reason decision table at reference width ---------------
    // r06 exercises the decision-table SHAPE over 8 branches; this is the
    // reference's real width — 30 reasons x 57 disjuncts + the took_drug
    // chain with its IS NULL branches, first-match-wins, NULL falling
    // through every branch to the default, plus the UNDEFINED-status
    // filter and the arm-code decode the reference applies after. A
    // 63-condition CASE is still ONE projection: Catalyst folds it into a
    // single codegen'd CaseWhen — zero exchanges, zero joins, scan-speed
    // at any scale (pinned by ConditionalSpec/PlanBudget golden).
    Query("r18_status_reason_full", {
      val flags = srFlagDefs.mkString(",\n         ")
      s"""WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_orderkey % 67 AS sel FROM orders),
        |flags AS (
        |  SELECT o_orderkey, o_custkey,
        |         $flags
        |  FROM base)
        |SELECT o_orderkey AS extid,
        |       $srArmCase AS arm_code,
        |       safety_status AS safetystatus,
        |       $srReasonCase AS safety_reason,
        |       $srDrugCase AS took_drug
        |FROM flags
        |WHERE safety_status <> 'UNDEFINED'""".stripMargin
    }) {
      (s, d) =>
        Tables.orders(s, d)
          .selectExpr("o_orderkey", "o_custkey", "o_orderkey % 67 AS sel")
          .selectExpr(Seq("o_orderkey", "o_custkey") ++ srFlagDefs: _*)
          .filter(col("safety_status") =!= "UNDEFINED")
          .select(col("o_orderkey").as("extid"),
            expr(srArmCase).as("arm_code"),
            col("safety_status").as("safetystatus"),
            expr(srReasonCase).as("safety_reason"),
            expr(srDrugCase).as("took_drug"))
    },

    // ---- r19: pk.Rmd day-window visit report ---------------------------------
    // Reference shape (pipeline-reporting/R/safety-efficacy/pk.Rmd:107-131):
    // three differently-shaped form exports — pkday0 (renames
    // select_action -> pk_group, constant visit_day), pkdays123 (carries
    // its own visit_day), pkfollowup (status only, no group) — are
    // bind_rows'd (the union-ALIGN: missing columns null-fill) and
    // pivot_wider'd to one row per participant with pk_status per visit
    // day. Duplicate (extid, day) forms take the min status (the
    // deterministic tiebreak pivot_wider's list-collapse leaves implicit).
    // Each slice's filter pushes to the scan; the pivot is ONE hash agg
    // with explicit day values (no distinct-values pre-pass).
    Query("r19_pk_day_windows", {
      val status = "CASE o_orderstatus WHEN 'O' THEN 'scheduled' " +
        "WHEN 'F' THEN 'sampled' ELSE 'missed' END"
      s"""WITH pk AS (
        |  SELECT o_custkey AS extid, 'visit 0' AS visit_day,
        |         $status AS pk_status
        |  FROM orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_custkey,
        |         CASE o_orderpriority WHEN '2-HIGH' THEN 'day 1'
        |              WHEN '3-MEDIUM' THEN 'day 2' ELSE 'day 3' END,
        |         $status
        |  FROM orders WHERE o_orderpriority IN ('2-HIGH','3-MEDIUM','5-LOW')
        |  UNION ALL
        |  SELECT o_custkey, 'follow up', $status
        |  FROM orders WHERE o_orderpriority = '4-NOT SPECIFIED')
        |SELECT extid,
        |       min(CASE WHEN visit_day = 'visit 0' THEN pk_status END) AS visit_0,
        |       min(CASE WHEN visit_day = 'day 1' THEN pk_status END) AS day_1,
        |       min(CASE WHEN visit_day = 'day 2' THEN pk_status END) AS day_2,
        |       min(CASE WHEN visit_day = 'day 3' THEN pk_status END) AS day_3,
        |       min(CASE WHEN visit_day = 'follow up' THEN pk_status END) AS follow_up,
        |       CAST(count(*) AS BIGINT) AS n_forms
        |FROM pk GROUP BY 1""".stripMargin
    }) {
      (s, d) => {
        val o = Tables.orders(s, d)
        val status = when(col("o_orderstatus") === "O", "scheduled")
          .when(col("o_orderstatus") === "F", "sampled").otherwise("missed")
        // the three form exports, each with the reference slice's shape
        val pk0 = o.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey").as("extid"), status.as("pk_status"),
            col("o_orderpriority").as("pk_group"))
          .withColumn("visit_day", lit("visit 0"))
        val pk123 = o.filter(col("o_orderpriority")
            .isin("2-HIGH", "3-MEDIUM", "5-LOW"))
          .select(col("o_custkey").as("extid"),
            when(col("o_orderpriority") === "2-HIGH", "day 1")
              .when(col("o_orderpriority") === "3-MEDIUM", "day 2")
              .otherwise("day 3").as("visit_day"),
            status.as("pk_status"), col("o_orderpriority").as("pk_group"))
        val pkfu = o.filter(col("o_orderpriority") === "4-NOT SPECIFIED")
          .select(col("o_custkey").as("extid"), status.as("pk_status"))
          .withColumn("visit_day", lit("follow up"))
        val pk = graft.operators.Reshape.unionAligned(Seq(pk0, pk123, pkfu))
        pk.groupBy("extid")
          .pivot("visit_day",
            Seq("visit 0", "day 1", "day 2", "day 3", "follow up"))
          .agg(min("pk_status").as("st"), count(lit(1)).as("n"))
          .select(col("extid"),
            col("`visit 0_st`").as("visit_0"), col("`day 1_st`").as("day_1"),
            col("`day 2_st`").as("day_2"), col("`day 3_st`").as("day_3"),
            col("`follow up_st`").as("follow_up"),
            (coalesce(col("`visit 0_n`"), lit(0L)) +
              coalesce(col("`day 1_n`"), lit(0L)) +
              coalesce(col("`day 2_n`"), lit(0L)) +
              coalesce(col("`day 3_n`"), lit(0L)) +
              coalesce(col("`follow up_n`"), lit(0L))).as("n_forms"))
      }
    },

    // ---- r21: efficacy status/reason + LTFU + trial-profile pivot ------------
    // Reference shape (pipeline-reporting/R/safety-efficacy/
    // efficacy_status_and_reason_for_efficacy_status.Rmd:143-235): the
    // efficacy twin of r18 adds two things the safety table doesn't have
    // — (1) a WINDOWED state feeding the decision chain: last non-absent
    // visit per person -> days-since -> ltfu flag, consumed by reason
    // branch 12 (the reference's Sys.Date() anchor is replaced by the
    // data's max ts, the w44 determinism convention; the 90-day
    // threshold scales to 7 days on the 30-day fixture; the branch label
    // 'ltfu: > 60 days' is the REFERENCE's own string, kept verbatim
    // mismatch and all) — and (2) the trial-profile pivot_wider with TWO
    // value columns (status AND reason per visit V1..V7, ibid:222-231).
    // Plan: the ltfu window, the enrolment window, and the profile
    // pivot all key on extid, so ONE exchange feeds all three.
    Query("r21_efficacy_profile", {
      val statuses = (1 to 7).map(i =>
        s"min(CASE WHEN visit = 'V$i' THEN efficacy_status END) AS status_v$i")
      val reasons = (1 to 7).map(i =>
        s"min(CASE WHEN visit = 'V$i' THEN efficacy_reason END) AS reason_v$i")
      s"""WITH e AS (
        |  SELECT event_id, user_id AS extid, ts,
        |         'V' || CAST(event_id % 7 + 1 AS VARCHAR) AS visit,
        |         CASE WHEN event_type = 'error' THEN '1' ELSE '0' END
        |           AS person_absent,
        |         CASE event_type WHEN 'click' THEN 'out' WHEN 'view' THEN 'eos'
        |              ELSE 'in' END AS efficacy_status,
        |         CASE user_id % 3 WHEN 0 THEN 'out' WHEN 1 THEN 'in'
        |              ELSE 'eos' END AS starting_efficacy_status,
        |         event_id % 23 AS sel
        |  FROM events),
        |f AS (
        |  SELECT *,
        |         CASE WHEN sel = 0 THEN '1' END AS not_continue_eos,
        |         CASE WHEN sel = 1 THEN '1' END AS not_agree_efficacy_procedures_eos,
        |         CASE WHEN sel = 2 THEN '1' END AS non_resident_eos,
        |         CASE WHEN sel = 3 THEN '1' END AS other_trials_eos,
        |         CASE WHEN sel = 4 THEN '1' END AS second_consecutive_absence_eos,
        |         CASE WHEN sel = 5 THEN '1' END AS person_migrated_eos,
        |         CASE WHEN sel = 6 THEN '1' END AS person_unenrolled_migrated,
        |         CASE WHEN sel = 7 THEN '1' END AS person_unenrolled_died,
        |         CASE WHEN sel = 8 THEN '0' END AS thumbprint_status,
        |         CASE WHEN sel = 9 THEN '0' END AS sign_icf_status,
        |         CASE WHEN sel = 10 THEN '0' END AS minor_assent_status
        |  FROM e),
        |lna AS (SELECT extid, max(ts) AS last_non_absent
        |        FROM e WHERE person_absent = '0' GROUP BY 1),
        |today AS (SELECT max(ts) AS today FROM e),
        |x AS (
        |  SELECT f.*,
        |         datediff('day', CAST(lna.last_non_absent AS DATE),
        |                  CAST(today.today AS DATE)) >= 7 AS ltfu
        |  FROM f LEFT JOIN lna ON f.extid = lna.extid CROSS JOIN today),
        |r AS (
        |  SELECT extid, extid % 25 AS cluster, extid % 4 AS assignment, visit,
        |         efficacy_status,
        |         $SrEfficacyReason AS efficacy_reason,
        |         CASE WHEN starting_efficacy_status = 'out'
        |                   AND efficacy_status <> 'out' THEN 'enrolment'
        |              WHEN starting_efficacy_status = 'out'
        |                   AND efficacy_status = 'out' THEN 'not yet enrolled'
        |              ELSE 'follow up' END AS enrolment
        |  FROM x)
        |SELECT extid, cluster, assignment,
        |       min(enrolment) AS first_enrolment,
        |       ${(statuses ++ reasons).mkString(",\n       ")}
        |FROM r GROUP BY 1, 2, 3""".stripMargin
    }) {
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables.events(s, d).select(
          col("event_id"), col("user_id").as("extid"), col("ts"),
          concat(lit("V"), (col("event_id") % 7 + 1).cast("string")).as("visit"),
          when(col("event_type") === "error", "1").otherwise("0")
            .as("person_absent"),
          when(col("event_type") === "click", "out")
            .when(col("event_type") === "view", "eos").otherwise("in")
            .as("efficacy_status"),
          when(col("user_id") % 3 === 0, "out")
            .when(col("user_id") % 3 === 1, "in").otherwise("eos")
            .as("starting_efficacy_status"),
          (col("event_id") % 23).as("sel"))
        val flagged = e
          .withColumn("not_continue_eos", when(col("sel") === 0, "1"))
          .withColumn("not_agree_efficacy_procedures_eos", when(col("sel") === 1, "1"))
          .withColumn("non_resident_eos", when(col("sel") === 2, "1"))
          .withColumn("other_trials_eos", when(col("sel") === 3, "1"))
          .withColumn("second_consecutive_absence_eos", when(col("sel") === 4, "1"))
          .withColumn("person_migrated_eos", when(col("sel") === 5, "1"))
          .withColumn("person_unenrolled_migrated", when(col("sel") === 6, "1"))
          .withColumn("person_unenrolled_died", when(col("sel") === 7, "1"))
          .withColumn("thumbprint_status", when(col("sel") === 8, "0"))
          .withColumn("sign_icf_status", when(col("sel") === 9, "0"))
          .withColumn("minor_assent_status", when(col("sel") === 10, "0"))
        val today = e.agg(max("ts").as("today"))
        val wu = Window.partitionBy("extid")
        // the last-non-absent anchor as a per-person window (same value
        // the reference's distinct-then-join produces), so ltfu shares
        // the extid exchange with the profile pivot below
        val x = flagged.crossJoin(broadcast(today))
          .withColumn("last_non_absent",
            max(when(col("person_absent") === "0", col("ts"))).over(wu))
          .withColumn("ltfu",
            datediff(to_date(col("today")), to_date(col("last_non_absent"))) >= 7)
        val r = x.select(col("extid"), (col("extid") % 25).as("cluster"),
          (col("extid") % 4).as("assignment"), col("visit"),
          col("efficacy_status"),
          expr(SrEfficacyReason).as("efficacy_reason"),
          when(col("starting_efficacy_status") === "out"
            && col("efficacy_status") =!= "out", "enrolment")
            .when(col("starting_efficacy_status") === "out"
              && col("efficacy_status") === "out", "not yet enrolled")
            .otherwise("follow up").as("enrolment"))
        // first_enrolment rides the SAME extid partitioning as the ltfu
        // window and the pivot below (constant per person, so it joins
        // the grouping keys) — no separate aggregate-and-join branch
        val prof = r
          .withColumn("first_enrolment", min("enrolment").over(wu))
          .groupBy("extid", "cluster", "assignment", "first_enrolment")
          .pivot("visit", (1 to 7).map(i => s"V$i"))
          .agg(min("efficacy_status").as("s"), min("efficacy_reason").as("r"))
        prof
          .select(Seq(col("extid"), col("cluster"), col("assignment"),
            col("first_enrolment")) ++
            (1 to 7).map(i => col(s"V${i}_s").as(s"status_v$i")) ++
            (1 to 7).map(i => col(s"V${i}_r").as(s"reason_v$i")): _*)
      }
    },

    // ---- r22: pfu status/reason + per-visit totals table ----------------------
    // Reference shape (pipeline-reporting/R/safety-efficacy/
    // pfu_status_and_reason.Rmd:136-161 + 253-330): the pregnancy
    // follow-up twin adds (1) enrolment as an ORDERED first-row-per-
    // person window (row_number over visit order, not a status rule;
    // event_id tiebreak pins what R's arrange leaves unstated), (2) a
    // reason chain whose tail is five compound branches value-matching
    // still_preg_no_reason — with NO default, so an unmatched reason
    // value falls through to NULL (the reference's commented-out
    // catch-all, slot 10 exercises it), and (3) the per-visit status
    // totals block: per-reason counts, an appended 'total people
    // visited' row per visit, and Percent complete rendered as a
    // rounded STRING — percent built from integer basis points
    // (floor(1e4*n/total+0.5)) so no float rounding can diverge
    // between engines.
    Query("r22_pfu_status", {
      val reasonCase = SrPfuReason
      s"""WITH e AS (
        |  SELECT event_id, user_id AS extid,
        |         'V' || CAST(event_id % 7 + 1 AS VARCHAR) AS visit,
        |         CASE WHEN event_type IN ('signup', 'purchase') THEN 'in'
        |              ELSE 'eos' END AS pregnancy_status,
        |         event_id % 13 AS sel
        |  FROM events),
        |f AS (
        |  SELECT *,
        |         CASE WHEN sel = 0 THEN '1' END AS ltfu_eos,
        |         CASE WHEN sel = 1 THEN '1' END AS fourth_absence_eos,
        |         CASE WHEN sel = 2 THEN '1' END AS person_died_eos,
        |         CASE WHEN sel = 3 THEN '1' END AS person_migrated_eos,
        |         CASE WHEN sel = 4 THEN '1' END AS not_continue_eos,
        |         CASE WHEN sel BETWEEN 5 AND 10 THEN '1' END AS still_preg_no_eos,
        |         CASE sel WHEN 5 THEN 'Baby was born alive'
        |              WHEN 6 THEN 'Miscarriage'
        |              WHEN 7 THEN 'Abortion (self-induced)'
        |              WHEN 8 THEN 'Baby was born dead'
        |              WHEN 9 THEN 'pna' WHEN 10 THEN 'Other' END
        |           AS still_preg_no_reason,
        |         row_number() OVER (PARTITION BY extid
        |                            ORDER BY event_id % 7 + 1, event_id) AS rn
        |  FROM e),
        |r AS (
        |  SELECT visit, $reasonCase AS pfu_reason,
        |         CASE WHEN rn = 1 THEN 1 ELSE 0 END AS is_enr
        |  FROM f),
        |agg AS (
        |  SELECT visit, pfu_reason, count(*) AS n,
        |         CAST(sum(is_enr) AS BIGINT) AS n_enrolment
        |  FROM r GROUP BY 1, 2),
        |tot AS (SELECT visit, CAST(sum(n) AS BIGINT) AS t,
        |               CAST(sum(n_enrolment) AS BIGINT) AS te
        |        FROM agg GROUP BY 1),
        |pct AS (
        |  SELECT agg.visit, pfu_reason, n, n_enrolment,
        |         CAST(floor(10000.0 * n / t + 0.5) AS BIGINT) AS bp
        |  FROM agg JOIN tot ON agg.visit = tot.visit
        |  UNION ALL
        |  SELECT visit, 'total people visited', t, te, 10000 FROM tot)
        |SELECT visit, pfu_reason, n, n_enrolment,
        |       CAST(bp // 100 AS VARCHAR) || '.'
        |         || lpad(CAST(bp % 100 AS VARCHAR), 2, '0') || '%'
        |         AS percent_complete
        |FROM pct""".stripMargin
    }) {
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables.events(s, d).select(col("event_id"),
          col("user_id").as("extid"),
          concat(lit("V"), (col("event_id") % 7 + 1).cast("string")).as("visit"),
          when(col("event_type").isin("signup", "purchase"), "in")
            .otherwise("eos").as("pregnancy_status"),
          (col("event_id") % 13).as("sel"))
        val f = e
          .withColumn("ltfu_eos", when(col("sel") === 0, "1"))
          .withColumn("fourth_absence_eos", when(col("sel") === 1, "1"))
          .withColumn("person_died_eos", when(col("sel") === 2, "1"))
          .withColumn("person_migrated_eos", when(col("sel") === 3, "1"))
          .withColumn("not_continue_eos", when(col("sel") === 4, "1"))
          .withColumn("still_preg_no_eos",
            when(col("sel").between(5, 10), "1"))
          .withColumn("still_preg_no_reason",
            when(col("sel") === 5, "Baby was born alive")
              .when(col("sel") === 6, "Miscarriage")
              .when(col("sel") === 7, "Abortion (self-induced)")
              .when(col("sel") === 8, "Baby was born dead")
              .when(col("sel") === 9, "pna")
              .when(col("sel") === 10, "Other"))
          .withColumn("rn", row_number().over(Window.partitionBy("extid")
            .orderBy(col("event_id") % 7 + 1, col("event_id"))))
        // held (the g29 convention): agg is |visits x reasons| rows
        // (~84) and BOTH the detail leg and the total rows read it —
        // without it the events scan + window + first agg run twice
        val agg = Materialize.small(f.select(col("visit"), expr(SrPfuReason).as("pfu_reason"),
            when(col("rn") === 1, 1).otherwise(0).as("is_enr"))
          .groupBy("visit", "pfu_reason")
          .agg(count(lit(1)).as("n"), sum("is_enr").cast("long").as("n_enrolment")))
        val tot = agg.groupBy("visit")
          .agg(sum("n").cast("long").as("t"),
            sum("n_enrolment").cast("long").as("te"))
        val detail = agg.join(broadcast(tot), "visit")
          .select(col("visit"), col("pfu_reason"), col("n"), col("n_enrolment"),
            floor(lit(10000.0) * col("n") / col("t") + 0.5).cast("long").as("bp"))
        val totalRows = tot.select(col("visit"),
          lit("total people visited").as("pfu_reason"), col("t").as("n"),
          col("te").as("n_enrolment"), lit(10000L).as("bp"))
        detail.unionByName(totalRows)
          .select(col("visit"), col("pfu_reason"), col("n"), col("n_enrolment"),
            concat((col("bp") / 100).cast("long").cast("string"), lit("."),
              lpad((col("bp") % 100).cast("string"), 2, "0"), lit("%"))
              .as("percent_complete"))
      }
    },

    // ---- r20: v0 demography cluster-coverage tracker -------------------------
    // Reference shape (pipeline-reporting/R/v0-demography/
    // v0_demography_report.Rmd:375-420, "Cluster Coverage Tracker"):
    // submissions grouped by (cluster, fa_id) with distinct-household +
    // member-sum metrics; absence and refusal counts at CLUSTER grain;
    // targets from the goals table at cluster grain; target LEFT JOINs
    // the finer submission grain (cluster targets replicate across each
    // cluster's FA rows — the reference's deliberate grain mismatch),
    // then absences/refusals; NAs zero-fill; coverage ratios derive.
    // NOTE hh_members_coverage = hh / target_hh_members replays the
    // REFERENCE's formula verbatim (ibid:405) — it divides households by
    // the member target, not members. Faithful > pretty.
    // Every join side after the submission agg is cluster- or
    // (cluster x fa)-sized, so they broadcast; the only data-sized work
    // is the orders-customer join + one agg.
    Query("r20_demography_tracker",
      """WITH sub AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS cluster,
        |         c_mktsegment AS fa_id,
        |         CAST(count(DISTINCT o_custkey) AS BIGINT) AS hh,
        |         CAST(sum(o_orderkey % 7 + 1) AS BIGINT) AS hh_members
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |ab AS (SELECT CAST(c_nationkey AS BIGINT) AS cluster,
        |              CAST(count(*) AS BIGINT) AS hh_absences
        |       FROM customer WHERE c_acctbal < 0 GROUP BY 1),
        |rf AS (SELECT CAST(c_nationkey AS BIGINT) AS cluster,
        |              CAST(count(*) AS BIGINT) AS hh_refusal
        |       FROM customer WHERE c_acctbal >= 0 AND c_acctbal < 1000
        |       GROUP BY 1),
        |t AS (SELECT CAST(c_nationkey AS BIGINT) AS cluster,
        |             CAST(count(*) AS BIGINT) AS target_hh,
        |             CAST(count(*) * 5 AS BIGINT) AS target_hh_members
        |      FROM customer GROUP BY 1)
        |SELECT t.cluster, sub.fa_id, t.target_hh, t.target_hh_members,
        |       coalesce(hh, 0) AS hh,
        |       CAST(coalesce(hh, 0) AS DOUBLE) / target_hh AS hh_coverage,
        |       coalesce(hh_members, 0) AS hh_members,
        |       CAST(coalesce(hh, 0) AS DOUBLE) / target_hh_members
        |         AS hh_members_coverage,
        |       coalesce(hh_absences, 0) AS hh_absences,
        |       coalesce(hh_refusal, 0) AS hh_refusal,
        |       coalesce(hh, 0) + coalesce(hh_absences, 0)
        |         + coalesce(hh_refusal, 0) AS hh_total,
        |       CAST(coalesce(hh, 0) + coalesce(hh_absences, 0)
        |            + coalesce(hh_refusal, 0) AS DOUBLE) / target_hh
        |         AS hh_total_coverage
        |FROM t LEFT JOIN sub ON t.cluster = sub.cluster
        |       LEFT JOIN ab ON t.cluster = ab.cluster
        |       LEFT JOIN rf ON t.cluster = rf.cluster""".stripMargin) {
      (s, d) => {
        val c = Tables.customer(s, d)
        def byCluster = col("c_nationkey").cast("long").as("cluster")
        val sub = Tables.orders(s, d)
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(byCluster, col("c_mktsegment").as("fa_id"))
          .agg(countDistinct(col("o_custkey")).as("hh"),
            sum(col("o_orderkey") % 7 + 1).as("hh_members"))
        val ab = c.filter(col("c_acctbal") < 0)
          .groupBy(byCluster).agg(count(lit(1)).as("hh_absences"))
        val rf = c.filter(col("c_acctbal") >= 0 && col("c_acctbal") < 1000)
          .groupBy(byCluster).agg(count(lit(1)).as("hh_refusal"))
        val t = c.groupBy(byCluster)
          .agg(count(lit(1)).as("target_hh"),
            (count(lit(1)) * 5).as("target_hh_members"))
        val hh = coalesce(col("hh"), lit(0L))
        val total = hh + coalesce(col("hh_absences"), lit(0L)) +
          coalesce(col("hh_refusal"), lit(0L))
        // t is the PRESERVED side of the left join, where Spark cannot
        // build-left — broadcast the (cluster x fa)-sized sub side
        // instead so the hint actually fires (build-right LeftOuter)
        t.join(broadcast(sub), Seq("cluster"), "left")
          .join(broadcast(ab), Seq("cluster"), "left")
          .join(broadcast(rf), Seq("cluster"), "left")
          .select(col("cluster"), col("fa_id"),
            col("target_hh"), col("target_hh_members"),
            hh.as("hh"),
            (hh.cast("double") / col("target_hh")).as("hh_coverage"),
            coalesce(col("hh_members"), lit(0L)).as("hh_members"),
            (hh.cast("double") / col("target_hh_members"))
              .as("hh_members_coverage"),
            coalesce(col("hh_absences"), lit(0L)).as("hh_absences"),
            coalesce(col("hh_refusal"), lit(0L)).as("hh_refusal"),
            total.as("hh_total"),
            (total.cast("double") / col("target_hh")).as("hh_total_coverage"))
      }
    },

    // ---- g29: se_and_pfu full metric fan-out --------------------------------
    // Reference shape (se_and_pfu.Rmd:427-527): 9 prep_safety_tbl calls,
    // each a FILTERED household/individual count by (visit, assignment),
    // reduced, joined to target_safety_by_assignment, pivoted wide, with
    // _perc coverage ratios. The reference caches the base table and
    // scans it 9 times; Spark-first is ONE scan — a two-level aggregate
    // (per-(visit, assignment, household) conditional counts, then
    // per-cell sums) computes every ind_*/hh_* column without a
    // count-distinct Expand, so the 9 slices cost one exchange pair.
    // The target table (customer) is assignment-level, replicated across
    // the data's visit list exactly like the reference's visit_list
    // expansion, and broadcast — 28 cells at any scale.
    Query("g29_se_fanout", {
      val filt = seIndicators.map { case (n, c) =>
        s"""    count(*) FILTER (WHERE $c) AS ind_$n,
           |    count(DISTINCT hh) FILTER (WHERE $c) AS hh_$n""".stripMargin
      }.mkString(",\n")
      val outCols = seIndicators.map { case (n, _) => s"hh_$n, ind_$n" }
        .mkString(",\n       ")
      s"""WITH base AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS visit,
        |         o_custkey % 4 AS assignment,
        |         o_custkey AS hh,
        |         CASE o_orderstatus WHEN 'O' THEN 'in' WHEN 'F' THEN 'out'
        |              ELSE 'eos' END AS status,
        |         CASE o_orderpriority WHEN '2-HIGH' THEN 'Absent'
        |              WHEN '3-MEDIUM' THEN 'Migrated'
        |              WHEN '5-LOW' THEN 'Died' END AS reason,
        |         o_totalprice < 20000 AS is_refusal
        |  FROM orders),
        |m AS (
        |  SELECT visit, assignment,
        |$filt
        |  FROM base GROUP BY 1, 2),
        |t AS (
        |  SELECT c_custkey % 4 AS assignment,
        |         CAST(count(DISTINCT c_custkey) AS BIGINT) AS hh_target,
        |         CAST(count(*) * 4 AS BIGINT) AS ind_target
        |  FROM customer GROUP BY 1),
        |v AS (SELECT DISTINCT visit FROM m)
        |SELECT v.visit, t.assignment, t.hh_target, t.ind_target,
        |       $outCols,
        |       CAST(hh_overall AS DOUBLE) / hh_target AS hh_overall_perc,
        |       CAST(ind_overall AS DOUBLE) / ind_target AS ind_overall_perc
        |FROM v CROSS JOIN t
        |LEFT JOIN m ON m.visit = v.visit AND m.assignment = t.assignment""".stripMargin
    }) {
      (s, d) => {
        val base = Tables.orders(s, d).select(
          year(col("o_orderdate")).cast("long").as("visit"),
          (col("o_custkey") % 4).as("assignment"),
          col("o_custkey").as("hh"),
          when(col("o_orderstatus") === "O", "in")
            .when(col("o_orderstatus") === "F", "out")
            .otherwise("eos").as("status"),
          when(col("o_orderpriority") === "2-HIGH", "Absent")
            .when(col("o_orderpriority") === "3-MEDIUM", "Migrated")
            .when(col("o_orderpriority") === "5-LOW", "Died").as("reason"),
          (col("o_totalprice") < 20000).as("is_refusal"))
        val conds = seIndicators.map { case (n, c) => n -> expr(c) }
        // level 1: per-household conditional counts + presence flags —
        // the distinct-count-without-Expand form (9 countDistincts in
        // one agg would Expand the scan 10x)
        val perHh = base.groupBy("visit", "assignment", "hh").agg(
          conds.head match { case (n, c) => count(when(c, 1)).as(s"ind_$n") },
          (conds.tail.map { case (n, c) => count(when(c, 1)).as(s"ind_$n") } ++
            conds.map { case (n, c) =>
              max(when(c, 1L).otherwise(0L)).as(s"any_$n") }): _*)
        // held like the reference's base table: m is |visits x arms|
        // rows (28), and BOTH its consumers (the visit list and the
        // metric join) read it — orders is scanned exactly once.
        // (Plain exchange reuse does not fire here: the visit branch
        // prunes to fewer columns, so the subtrees differ.)
        val m = Materialize.small(perHh.groupBy("visit", "assignment").agg(
          sum(s"ind_${conds.head._1}").as(s"ind_${conds.head._1}"),
          (conds.tail.map { case (n, _) => sum(s"ind_$n").as(s"ind_$n") } ++
            conds.map { case (n, _) => sum(s"any_$n").as(s"hh_$n") }): _*))
        val t = Tables.customer(s, d).groupBy(
            (col("c_custkey") % 4).as("assignment"))
          .agg(countDistinct(col("c_custkey")).as("hh_target"),
            (count(lit(1)) * 4).as("ind_target"))
        // visit_list expansion: targets replicated across the visits the
        // data contains (m is 28 rows; its exchange is reused, so orders
        // is still scanned once)
        val v = m.select("visit").distinct()
        val metricCols = seIndicators.flatMap { case (n, _) =>
          Seq(col(s"hh_$n"), col(s"ind_$n")) }
        v.crossJoin(broadcast(t))
          .join(m, Seq("visit", "assignment"), "left")
          .select(Seq(col("visit"), col("assignment"),
            col("hh_target"), col("ind_target")) ++ metricCols ++ Seq(
            (col("hh_overall").cast("double") / col("hh_target"))
              .as("hh_overall_perc"),
            (col("ind_overall").cast("double") / col("ind_target"))
              .as("ind_overall_perc")): _*)
      }
    },

    // ---- status/reason decision table (safety_reason analog) ---------------
    // First-match-wins chain over several columns — the reference's
    // status tables; NULL falls through every branch to the default.
    Query("r06_status_decision_table",
      """SELECT o_orderkey,
        |  CASE
        |    WHEN o_orderstatus = 'F' AND o_totalprice > 300000 THEN 'closed_large'
        |    WHEN o_orderstatus = 'F' AND o_orderpriority = '1-URGENT' THEN 'closed_urgent'
        |    WHEN o_orderstatus = 'F' THEN 'closed'
        |    WHEN o_orderstatus = 'P' AND o_totalprice > 200000 THEN 'pending_review'
        |    WHEN o_orderstatus = 'P' THEN 'pending'
        |    WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'open_priority'
        |    WHEN o_totalprice < 50000 THEN 'open_small'
        |    ELSE 'open'
        |  END AS status_reason
        |FROM orders""".stripMargin) {
      (s, d) => Tables.orders(s, d).select(col("o_orderkey"),
        when(col("o_orderstatus") === "F" && col("o_totalprice") > 300000, "closed_large")
          .when(col("o_orderstatus") === "F" && col("o_orderpriority") === "1-URGENT", "closed_urgent")
          .when(col("o_orderstatus") === "F", "closed")
          .when(col("o_orderstatus") === "P" && col("o_totalprice") > 200000, "pending_review")
          .when(col("o_orderstatus") === "P", "pending")
          .when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "open_priority")
          .when(col("o_totalprice") < 50000, "open_small")
          .otherwise("open").as("status_reason"))
    },

    // ---- weight-band dosing (pharmacy coartem analog) -----------------------
    Query("r07_dose_bands",
      """SELECT band, count(*) AS n, CAST(sum(dose) AS BIGINT) AS total_tablets FROM (
        |  SELECT CASE WHEN l_quantity < 15 THEN '5-14kg' WHEN l_quantity < 25 THEN '15-24kg'
        |              WHEN l_quantity < 35 THEN '25-34kg' ELSE '35+kg' END AS band,
        |         CASE WHEN l_quantity < 15 THEN 1 WHEN l_quantity < 25 THEN 2
        |              WHEN l_quantity < 35 THEN 3 ELSE 4 END AS dose
        |  FROM lineitem)
        |GROUP BY band""".stripMargin) {
      (s, d) => {
        val q = col("l_quantity")
        Tables.lineitem(s, d)
          .select(
            when(q < 15, "5-14kg").when(q < 25, "15-24kg")
              .when(q < 35, "25-34kg").otherwise("35+kg").as("band"),
            when(q < 15, 1).when(q < 25, 2).when(q < 35, 3).otherwise(4).as("dose"))
          .groupBy("band")
          .agg(count(lit(1)).as("n"), sum(col("dose")).cast("bigint").as("total_tablets"))
      }
    },

    // ---- metric pivot with derived ratio (se_and_pfu metrics analog) ---------
    Query("r08_metric_ratio",
      """SELECT o_orderpriority,
        |  CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS done,
        |  CAST(count(*) AS BIGINT) AS total,
        |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) * CAST(1.0 AS DOUBLE) / count(*) AS pct_done
        |FROM orders GROUP BY o_orderpriority""".stripMargin) {
      (s, d) => Tables.orders(s, d).groupBy("o_orderpriority").agg(
        count(when(col("o_orderstatus") === "F", 1)).as("done"),
        count(lit(1)).as("total"),
        (count(when(col("o_orderstatus") === "F", 1)) * lit(1.0) / count(lit(1))).as("pct_done"))
    },

    // ---- incidence rate with 95% CI (prevalence_incidence.qmd analog) -------
    // rate = cases / person-time; CI = rate * exp(±z / sqrt(cases)).
    // exp/log are libm (not correctly rounded) → outputs rounded to 6 dp
    // so sub-ulp engine differences cannot flip the compare.
    Query("r11_incidence_ci",
      """SELECT o_orderpriority AS grp,
        |       CAST(cases AS BIGINT) AS cases,
        |       round(rate, 6) AS rate,
        |       round(rate * exp(-1.959964 / sqrt(cases)), 6) AS ci_lo,
        |       round(rate * exp(1.959964 / sqrt(cases)), 6) AS ci_hi
        |FROM (
        |  SELECT o_orderpriority,
        |         CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS DOUBLE) AS cases,
        |         count(CASE WHEN o_orderstatus = 'F' THEN 1 END)
        |           * CAST(1.0 AS DOUBLE) / count(*) AS rate
        |  FROM orders GROUP BY o_orderpriority)""".stripMargin) {
      (s, d) => {
        val cases = count(when(col("o_orderstatus") === "F", 1)).cast("double")
        val rate = cases * lit(1.0) / count(lit(1))
        val z = lit(1.959964)
        Tables.orders(s, d).groupBy(col("o_orderpriority").as("grp"))
          .agg(cases.as("cases_d"), rate.as("rate_raw"))
          .select(col("grp"),
            col("cases_d").cast("bigint").as("cases"),
            round(col("rate_raw"), 6).as("rate"),
            round(col("rate_raw") * exp(z * -1 / sqrt(col("cases_d"))), 6).as("ci_lo"),
            round(col("rate_raw") * exp(z / sqrt(col("cases_d"))), 6).as("ci_hi"))
      }
    },

    // ---- scalar function sampler (SURVEY §2.7 surface in one projection) ----
    Query("r09_scalar_sampler",
      """SELECT p_partkey,
        |  substring(p_name, 1, 8) AS sub,
        |  upper(p_brand) AS up, lower(p_type) AS lo,
        |  length(p_name) AS len,
        |  concat_ws('|', p_brand, p_type) AS joined,
        |  CASE WHEN p_type LIKE '%BRASS%' THEN 1 ELSE 0 END AS has_brass,
        |  regexp_extract(p_type, '[A-Z]+$') AS last_word,
        |  round(p_retailprice, 1) AS price_r,
        |  CAST(sqrt(CAST(p_size AS DOUBLE)) AS DOUBLE) AS sq,
        |  greatest(p_size, 25) AS g, least(p_size, 25) AS l,
        |  coalesce(nullif(p_brand, 'Brand#13'), 'OTHER') AS brand_o,
        |  printf('%05d', p_size) AS padded
        |FROM part""".stripMargin) {
      (s, d) => Tables.part(s, d).select(col("p_partkey"),
        substring(col("p_name"), 1, 8).as("sub"),
        upper(col("p_brand")).as("up"), lower(col("p_type")).as("lo"),
        length(col("p_name")).as("len"),
        concat_ws("|", col("p_brand"), col("p_type")).as("joined"),
        when(col("p_type").like("%BRASS%"), 1).otherwise(0).as("has_brass"),
        regexp_extract(col("p_type"), "[A-Z]+$", 0).as("last_word"),
        round(col("p_retailprice"), 1).as("price_r"),
        sqrt(col("p_size").cast("double")).as("sq"),
        greatest(col("p_size"), lit(25)).as("g"), least(col("p_size"), lit(25)).as("l"),
        coalesce(when(col("p_brand") === "Brand#13", lit(null)).otherwise(col("p_brand")),
          lit("OTHER")).as("brand_o"),
        format_string("%05d", col("p_size")).as("padded"))
    },

    // ---- G6: pharmacy stock ledger as ONE composite --------------------------
    // The reference's main report-table consumer surface in one oracle
    // row (monitoring/pharmacy.Rmd:231-247 unpivot ledger, :828-833 dose
    // banding): wide per-drug count columns → pivot_longer with
    // replace_na(0) and str_detect name→item mapping → per (week, item)
    // arrivals/dispatches → net balance → running as-of balance (window
    // prefix sum per item) → stock-age buckets + coartem-ladder dose
    // banding. Chains r03 + w12's prefix-sum shape + w13 + r07 in one
    // result; a break in any stage hash-mismatches.
    // Scale: unpivot is a narrow 3× row expansion (no shuffle); the
    // ledger is one hash aggregate on (week, item); the running balance
    // windows over ~360 rows per item — sums are decimal-routed so the
    // prefix sum is exact cross-engine.
    Query("g06_stock_ledger",
      """WITH wide AS (
        |  SELECT CAST(date_trunc('week', CAST(l_shipdate AS DATE)) AS DATE) AS run_week,
        |         CASE WHEN l_returnflag = 'N' THEN 'supplier' ELSE 'dispatch' END AS operation,
        |         l_quantity AS alb_tabno,
        |         CASE WHEN l_discount > 0.05 THEN NULL ELSE l_quantity * 2 END AS ivm_tabno,
        |         CAST(l_linenumber AS DOUBLE) AS prdt_kitsno
        |  FROM lineitem),
        |long AS (
        |  SELECT run_week, operation, 'alb_tabno' AS name, alb_tabno AS value FROM wide
        |  UNION ALL SELECT run_week, operation, 'ivm_tabno', ivm_tabno FROM wide
        |  UNION ALL SELECT run_week, operation, 'prdt_kitsno', prdt_kitsno FROM wide),
        |mapped AS (
        |  SELECT run_week, operation,
        |         CASE WHEN name LIKE '%alb%' THEN 'alb'
        |              WHEN name LIKE '%ivm%' THEN 'ivm'
        |              ELSE 'prdt' END AS item,
        |         coalesce(value, 0) AS value
        |  FROM long),
        |ledger AS (
        |  SELECT run_week, item,
        |         sum(CAST(CASE WHEN operation = 'supplier' THEN value ELSE 0 END AS DECIMAL(18,4))) AS arr_d,
        |         sum(CAST(CASE WHEN operation = 'dispatch' THEN value ELSE 0 END AS DECIMAL(18,4))) AS dis_d
        |  FROM mapped GROUP BY 1, 2)
        |SELECT run_week, item,
        |       CAST(arr_d AS DOUBLE) AS arrivals,
        |       CAST(dis_d AS DOUBLE) AS dispatched,
        |       CAST(arr_d - dis_d AS DOUBLE) AS balance,
        |       CAST(sum(arr_d - dis_d) OVER (PARTITION BY item ORDER BY run_week) AS DOUBLE)
        |         AS running_balance,
        |       CASE WHEN datediff('day', run_week, DATE '2002-01-07') < 360 THEN '0-12m'
        |            WHEN datediff('day', run_week, DATE '2002-01-07') < 1440 THEN '12-48m'
        |            ELSE '>48m' END AS age_bucket,
        |       CASE WHEN arr_d < 500 THEN 6 WHEN arr_d < 1000 THEN 12
        |            WHEN arr_d < 2000 THEN 18 ELSE 24 END AS dose_tablets
        |FROM ledger""".stripMargin) {
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val wide = Tables.lineitem(s, d).select(
          date_trunc("week", to_date(col("l_shipdate"))).cast("date").as("run_week"),
          when(col("l_returnflag") === "N", "supplier").otherwise("dispatch").as("operation"),
          col("l_quantity").as("alb_tabno"),
          when(col("l_discount") > 0.05, lit(null).cast("double"))
            .otherwise(col("l_quantity") * 2).as("ivm_tabno"),
          col("l_linenumber").cast("double").as("prdt_kitsno"))
        val long = graft.operators.Reshape.unpivot(wide, Seq("run_week", "operation"),
          Seq("alb_tabno", "ivm_tabno", "prdt_kitsno"))
        val mapped = long.select(col("run_week"), col("operation"),
          when(col("name").contains("alb"), "alb")
            .when(col("name").contains("ivm"), "ivm")
            .otherwise("prdt").as("item"),
          coalesce(col("value"), lit(0.0)).as("value"))
        val ledger = mapped.groupBy("run_week", "item").agg(
          sum(when(col("operation") === "supplier", col("value")).otherwise(0.0)
            .cast("decimal(18,4)")).as("arr_d"),
          sum(when(col("operation") === "dispatch", col("value")).otherwise(0.0)
            .cast("decimal(18,4)")).as("dis_d"))
        val w = Window.partitionBy("item").orderBy("run_week")
        val age = datediff(lit("2002-01-07").cast("date"), col("run_week"))
        ledger
          .withColumn("bal_d", col("arr_d") - col("dis_d"))
          .withColumn("run_d", sum(col("bal_d")).over(w))
          .select(col("run_week"), col("item"),
            col("arr_d").cast("double").as("arrivals"),
            col("dis_d").cast("double").as("dispatched"),
            col("bal_d").cast("double").as("balance"),
            col("run_d").cast("double").as("running_balance"),
            when(age < 360, "0-12m").when(age < 1440, "12-48m")
              .otherwise(">48m").as("age_bucket"),
            when(col("arr_d") < 500, 6).when(col("arr_d") < 1000, 12)
              .when(col("arr_d") < 2000, 18).otherwise(24).as("dose_tablets"))
      }
    },

    // ---- G8: lab sample-reconciliation snapshots -----------------------------
    // The lab monitoring report (monitoring/lab.Rmd:305-365): field
    // submissions vs lab receipts reconciled at weekly snapshots —
    // samples submitted as-of the snapshot with no receipt as-of the
    // snapshot are "pending"; pending >10 days is the escalation
    // metric; grouped per (run_date, study). The oracle states the
    // reference's semantics literally (purrr::map_dfr snapshot
    // cross join + anti join per run_date); the engine plan never
    // multiplies the fact table by the snapshot count: each sample
    // contributes ≤4 delta rows (+1 at its pending-entry week, −1 at
    // its receipt week, same pair for the >10-day clock), the deltas
    // hash-aggregate to (week, study), and two prefix sums over the
    // 13×5 grid reconstruct every snapshot — w12's trick extended to
    // INTERVAL membership (enter AND exit), the only shape that
    // survives daily snapshots over years of history at 100 TB.
    Query("g08_lab_reconciliation",
      """WITH wk AS (
        |  SELECT unnest(generate_series(DATE '1996-01-06', DATE '1996-03-30',
        |                                INTERVAL 7 DAY)) AS run_date),
        |sub AS (
        |  SELECT o_orderkey AS sample, o_orderpriority AS study,
        |         CAST(o_orderdate AS DATE) AS submit
        |  FROM orders),
        |rec AS (
        |  SELECT l_orderkey AS sample, min(CAST(l_shipdate AS DATE)) AS received
        |  FROM lineitem WHERE l_linenumber = 1 GROUP BY 1),
        |pend AS (
        |  SELECT CAST(w.run_date AS DATE) AS run_date, s.study, s.sample,
        |         datediff('day', s.submit, CAST(w.run_date AS DATE)) AS age
        |  FROM wk w
        |  JOIN sub s ON s.submit <= CAST(w.run_date AS DATE)
        |  LEFT JOIN rec r ON r.sample = s.sample AND r.received <= CAST(w.run_date AS DATE)
        |  WHERE r.sample IS NULL),
        |counts AS (
        |  SELECT run_date, study,
        |         CAST(count(*) AS BIGINT) AS n_pending,
        |         CAST(count(CASE WHEN age > 10 THEN 1 END) AS BIGINT) AS n_pending_gt10
        |  FROM pend GROUP BY 1, 2)
        |SELECT CAST(w.run_date AS DATE) AS run_date, st.study,
        |       coalesce(c.n_pending, 0) AS n_pending,
        |       coalesce(c.n_pending_gt10, 0) AS n_pending_gt10
        |FROM wk w
        |CROSS JOIN (SELECT DISTINCT o_orderpriority AS study FROM orders) st
        |LEFT JOIN counts c
        |  ON c.run_date = CAST(w.run_date AS DATE) AND c.study = st.study""".stripMargin) {
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = lit("1996-01-06").cast("date")
        val nWeeks = 13
        val sub = Tables.orders(s, d).select(
          col("o_orderkey").as("sample"), col("o_orderpriority").as("study"),
          col("o_orderdate").cast("date").as("submit"))
        val rec = Tables.lineitem(s, d).filter(col("l_linenumber") === 1)
          .groupBy(col("l_orderkey").as("sample"))
          .agg(min(col("l_shipdate").cast("date")).as("received"))
        // per-sample week indices on the snapshot grid: first grid week
        // >= submit (pending entry), >= received (exit), >= submit+11
        // (the >10-day clock); exit clamped to entry so a receipt
        // preceding its submission nets to zero, matching the oracle
        val ks = greatest(lit(0), ceil(datediff(col("submit"), base) / 7.0)).cast("int")
        val k10 = greatest(lit(0), ceil((datediff(col("submit"), base) + 11) / 7.0)).cast("int")
        val krRaw = ceil(datediff(col("received"), base) / 7.0).cast("int")
        val deltas = sub.join(rec, Seq("sample"), "left")
          .select(col("study"), ks.as("ks"), k10.as("k10"),
            when(col("received").isNull, nWeeks).otherwise(greatest(ks, krRaw)).as("kr"))
          .select(col("study"), explode(concat(
            when(col("ks") < nWeeks,
              array(struct(col("ks").as("k"), lit(1L).as("dp"), lit(0L).as("dg"))))
              .otherwise(array()),
            when(col("kr") < nWeeks,
              array(struct(col("kr").as("k"), lit(-1L).as("dp"), lit(0L).as("dg"))))
              .otherwise(array()),
            when(greatest(col("ks"), col("k10")) < least(col("kr"), lit(nWeeks)),
              array(struct(greatest(col("ks"), col("k10")).as("k"),
                lit(0L).as("dp"), lit(1L).as("dg"))))
              .otherwise(array()),
            when(greatest(col("ks"), col("k10")) < col("kr") && col("kr") < nWeeks,
              array(struct(col("kr").as("k"), lit(0L).as("dp"), lit(-1L).as("dg"))))
              .otherwise(array()))).as("dlt"))
          .select(col("study"), col("dlt.k").as("k"),
            col("dlt.dp").as("dp"), col("dlt.dg").as("dg"))
          .groupBy("k", "study")
          .agg(sum("dp").as("dp"), sum("dg").as("dg"))
        val studies = Tables.orders(s, d)
          .select(col("o_orderpriority").as("study")).distinct()
        val grid = s.range(0, nWeeks).select(col("id").cast("int").as("k"))
          .crossJoin(broadcast(studies))
        val w = Window.partitionBy("study").orderBy("k")
          .rowsBetween(Window.unboundedPreceding, 0)
        grid.join(deltas, Seq("k", "study"), "left")
          .withColumn("n_pending", sum(coalesce(col("dp"), lit(0L))).over(w))
          .withColumn("n_pending_gt10", sum(coalesce(col("dg"), lit(0L))).over(w))
          .select(date_add(base, col("k") * 7).as("run_date"), col("study"),
            col("n_pending"), col("n_pending_gt10"))
      }
    },

    // ---- shared-base metric fan-out (§4.2 exchange reuse) --------------------
    // One filtered/joined base feeds several metric rows — the reference
    // reuses one merged tibble across ~10 report metrics; here the base
    // is cached and each metric is a row of a unioned summary.
    Query("r10_shared_base_metrics",
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders
        |  WHERE o_totalprice > 1000)
        |SELECT 'n_orders' AS metric, CAST(count(*) AS DOUBLE) AS value FROM base
        |UNION ALL
        |SELECT 'n_customers', CAST(count(DISTINCT o_custkey) AS DOUBLE) FROM base
        |UNION ALL
        |SELECT 'open_share',
        |       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
        |FROM base
        |UNION ALL
        |SELECT 'total_value',
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) FROM base""".stripMargin) {
      (s, d) => {
        val base = Materialize.shared(Tables.orders(s, d)
          .filter(col("o_totalprice") > 1000)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"))
        def metric(name: String, v: org.apache.spark.sql.Column) =
          base.agg(v.as("value")).select(lit(name).as("metric"), col("value"))
        metric("n_orders", count(lit(1)).cast("double"))
          .unionByName(metric("n_customers", countDistinct(col("o_custkey")).cast("double")))
          .unionByName(metric("open_share",
            sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).cast("double") / count(lit(1))))
          .unionByName(metric("total_value",
            sum(col("o_totalprice").cast("decimal(18,4)")).cast("double")))
      }
    },

    // ---- r15: calendar-spine densification (gap-filled daily series) ------
    // The report-table shape w07's forward fill does NOT cover: rows
    // must EXIST for days with no data (zero-filled), so charts and
    // as-of joins see a dense series. The spine is generated, not
    // scanned: one 1-row bounds aggregate explodes into the day range
    // (sequence), cross-joins the small dimension (broadcast), and the
    // actuals LEFT-join onto it — the fact table is never exploded. At
    // 100 TB the spine is |days| x |dims| rows regardless of fact size.
    Query("r15_date_spine",
      """WITH bounds AS (
        |  SELECT datediff('day', DATE '1970-01-01', min(CAST(o_orderdate AS DATE))) AS lo,
        |         datediff('day', DATE '1970-01-01', max(CAST(o_orderdate AS DATE))) AS hi
        |  FROM orders),
        |spine AS (SELECT p.o_orderpriority AS prio, g.d AS day
        |          FROM (SELECT DISTINCT o_orderpriority FROM orders) p,
        |               bounds, LATERAL (SELECT unnest(generate_series(lo, hi)) AS d) g),
        |actual AS (
        |  SELECT o_orderpriority AS prio,
        |         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
        |         count(*) AS n
        |  FROM orders GROUP BY 1, 2)
        |SELECT s.prio, s.day, coalesce(a.n, 0) AS n
        |FROM spine s LEFT JOIN actual a ON s.prio = a.prio AND s.day = a.day""".stripMargin) {
      (s, d) => {
        val o = Tables.orders(s, d)
          .select(col("o_orderpriority").as("prio"),
            unix_date(to_date(col("o_orderdate"))).cast("bigint").as("day"))
        val bounds = o.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        val spine = o.select("prio").distinct()
          .crossJoin(broadcast(bounds))
          .select(col("prio"), explode(expr("sequence(lo, hi)")).as("day"))
        val actual = o.groupBy("prio", "day").agg(count(lit(1)).as("n"))
        spine.join(actual, Seq("prio", "day"), "left")
          .select(col("prio"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
      }
    },

    // ---- g18: ICF aging monitoring composite -------------------------------
    // The reference's last uncovered report surface (VERDICT r7 "What's
    // missing" #2): pipeline-reporting/R/monitoring/icf.Rmd:380-520 builds
    // weekly as-of snapshots of ICF verification records
    // (create_snapshot_tbl, monitoring-issues-ui/cra_site_ui.Rmd:87-103:
    // every record with SubmissionDate <= week is "in" that week), splits
    // them into Unresolved ('Rectification') / Archived-Resolved /
    // Missing ('Lost-Not Found') / Unverified (roster anti-join icf per
    // week) legs, ages each record against the snapshot date, regroups by
    // the >20/>30-day case_when (icf.Rmd:505-519), and counts DISTINCT
    // extids per (week, study, aging group).
    //
    // The oracle states those semantics literally (weeks x records join +
    // per-week anti-join). The engine never multiplies the fact tables by
    // the snapshot count: each record's membership in each aging group is
    // a contiguous WEEK-INDEX INTERVAL (entry at its submission week,
    // regrade at submit+21d / submit+31d, unverified-exit at the extid's
    // first verification week), so a record contributes <=3 interval rows.
    // count(DISTINCT extid) survives the delta trick because per
    // (extid, study, group) the intervals are first unioned into disjoint
    // islands (one tiny per-key window) — after that, +1/-1 deltas and a
    // prefix sum over the 13-week x group grid reconstruct every
    // snapshot's distinct count exactly. g08's interval-membership shape
    // extended to DISTINCT aggregation — the only form that survives
    // weekly snapshots over years of history at 100 TB.
    // ---- g38: ICF verification composite ------------------------------------
    // The reference's ICF safety/efficacy report chain (pipeline-reporting/
    // R/icf/icf_se_report.Rmd:149-400): per-arm rosters built by
    // parent↔repeat inner joins on PARENT_KEY with completed+signed
    // filters and a latest-visit rollup per participant; a v0demography
    // roster (another PARENT_KEY join) contributing age/fa attributes —
    // by extid for safety/efficacy, by HOUSEHOLD for safetynew (the
    // reference's distinct(hhid, fa_id) lookup, made deterministic here
    // with min()); departures (left/migrated/died) excluded by anti-join;
    // verification ∪ resolution records each rolled to the latest
    // submission per (extid, study), unioned, rolled AGAIN (the
    // reference's double rollup), then inner-joined to the roster for
    // status; final rows carry the report's metric label + aging days.
    // Everything shuffles by extid once per rollup; the departure set
    // and v0 lookups are key-sized (AQE broadcasts them).
    Query("g38_icf_verification",
      """WITH rep AS (
        |  SELECT l_orderkey AS okey, l_partkey AS extid, l_suppkey,
        |         l_linenumber, l_quantity, l_returnflag AS rf,
        |         l_linestatus AS ls, CAST(l_shipdate AS DATE) AS submit,
        |         l_orderkey*100 + l_linenumber AS inst
        |  FROM lineitem),
        |par AS (
        |  SELECT o_orderkey AS okey, o_custkey AS hhid,
        |         o_orderpriority AS pri,
        |         CASE WHEN o_orderstatus = 'O' THEN 'in'
        |              WHEN o_orderstatus = 'F' THEN 'eos'
        |              WHEN o_totalprice < 100000 THEN 'out'
        |              ELSE 'refusal' END AS status
        |  FROM orders),
        |v0 AS (
        |  SELECT r.extid, min(p.hhid) AS hhid, min(r.l_suppkey) AS fa_id,
        |         CAST(floor(datediff('day', min(r.submit), DATE '2001-12-01')
        |                    / 365.25) AS INT) AS age
        |  FROM par p JOIN rep r ON p.okey = r.okey
        |  WHERE p.pri = '4-NOT SPECIFIED' GROUP BY 1),
        |v0h AS (SELECT hhid, min(fa_id) AS fa_id FROM v0 GROUP BY 1),
        |sfty AS (
        |  SELECT extid, 'safety' AS study, status, submit, inst, hhid,
        |         CAST(NULL AS INT) AS own_age,
        |         row_number() OVER (PARTITION BY extid
        |                            ORDER BY submit DESC, inst DESC) AS rn
        |  FROM par p JOIN rep r ON p.okey = r.okey
        |  WHERE p.pri IN ('1-URGENT', '2-HIGH')
        |    AND r.ls = 'F' AND r.rf <> 'N'),
        |sftynew AS (
        |  SELECT extid, 'safety' AS study, status, submit, inst, hhid,
        |         CAST(floor(l_quantity) AS INT) AS own_age,
        |         row_number() OVER (PARTITION BY extid
        |                            ORDER BY submit DESC, inst DESC) AS rn
        |  FROM par p JOIN rep r ON p.okey = r.okey
        |  WHERE p.pri = '3-MEDIUM'
        |    AND r.ls = 'F' AND r.rf <> 'N'),
        |eff AS (
        |  SELECT extid, 'efficacy' AS study, status, submit, inst, hhid,
        |         CAST(NULL AS INT) AS own_age,
        |         row_number() OVER (PARTITION BY extid
        |                            ORDER BY submit DESC, inst DESC) AS rn
        |  FROM par p JOIN rep r ON p.okey = r.okey
        |  WHERE p.pri = '5-LOW'
        |    AND r.ls = 'F' AND r.rf = 'A'),
        |dep AS (
        |  SELECT DISTINCT extid
        |  FROM par p JOIN rep r ON p.okey = r.okey
        |  WHERE p.pri IN ('1-URGENT', '2-HIGH', '5-LOW')
        |    AND r.rf = 'R' AND r.ls = 'O' AND r.l_quantity <= 2),
        |leg1 AS (
        |  SELECT s.extid, s.study, s.status, s.submit, s.inst,
        |         v.age AS age, v.fa_id AS fa_id
        |  FROM sfty s LEFT JOIN v0 v ON s.extid = v.extid WHERE s.rn = 1),
        |leg2 AS (
        |  SELECT s.extid, s.study, s.status, s.submit, s.inst,
        |         s.own_age AS age, v.fa_id AS fa_id
        |  FROM sftynew s LEFT JOIN v0h v ON s.hhid = v.hhid WHERE s.rn = 1),
        |leg3 AS (
        |  SELECT s.extid, s.study, s.status, s.submit, s.inst,
        |         v.age AS age, v.fa_id AS fa_id
        |  FROM eff s LEFT JOIN v0 v ON s.extid = v.extid WHERE s.rn = 1),
        |roster0 AS (
        |  SELECT *, row_number() OVER (PARTITION BY extid, study
        |                               ORDER BY submit DESC, inst DESC) AS rn2
        |  FROM (SELECT * FROM leg1 UNION ALL SELECT * FROM leg2
        |        UNION ALL SELECT * FROM leg3)
        |  WHERE status IN ('in', 'eos', 'out')
        |    AND extid NOT IN (SELECT extid FROM dep)),
        |roster AS (SELECT extid, study, status, age, fa_id
        |           FROM roster0 WHERE rn2 = 1),
        |vslice AS (
        |  SELECT r.extid,
        |         CASE WHEN r.okey % 2 = 0 THEN 'safety' ELSE 'efficacy' END
        |           AS study,
        |         r.rf, r.ls, r.submit, r.inst
        |  FROM par p JOIN rep r ON p.okey = r.okey
        |  WHERE p.pri = '4-NOT SPECIFIED'),
        |verif AS (
        |  SELECT extid, study,
        |         CASE rf WHEN 'A' THEN 'Archived'
        |                 ELSE 'Rectification' END AS icf_stat,
        |         submit, inst,
        |         row_number() OVER (PARTITION BY extid, study
        |                            ORDER BY submit DESC, inst DESC) AS rn
        |  FROM vslice WHERE rf IN ('A', 'R')),
        |resol AS (
        |  SELECT extid, study,
        |         CASE ls WHEN 'F' THEN 'Archived'
        |                 ELSE 'Lost-Not Found' END AS icf_stat,
        |         submit, inst,
        |         row_number() OVER (PARTITION BY extid, study
        |                            ORDER BY submit DESC, inst DESC) AS rn
        |  FROM vslice WHERE rf = 'N'),
        |icf AS (
        |  SELECT *, row_number() OVER (PARTITION BY extid, study
        |                               ORDER BY submit DESC, inst DESC) AS rn2
        |  FROM (SELECT extid, study, icf_stat, submit, inst FROM verif
        |          WHERE rn = 1
        |        UNION ALL
        |        SELECT extid, study, icf_stat, submit, inst FROM resol
        |          WHERE rn = 1))
        |SELECT i.extid, i.study, r.status, i.icf_stat,
        |       CASE i.icf_stat WHEN 'Rectification' THEN 'ICF Unresolved'
        |                       WHEN 'Lost-Not Found' THEN 'ICF Missing'
        |                       ELSE 'ICF Archived' END AS metric,
        |       CAST(datediff('day', i.submit, DATE '2001-12-01') AS BIGINT)
        |         AS aging_days,
        |       r.age, r.fa_id
        |FROM icf i JOIN roster r
        |  ON i.extid = r.extid AND i.study = r.study
        |WHERE i.rn2 = 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val runDate = lit("2001-12-01").cast("date")
      val rep = Tables.lineitem(s, d).select(
        col("l_orderkey").as("okey"), col("l_partkey").as("extid"),
        col("l_suppkey"), col("l_quantity"),
        col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
        col("l_shipdate").cast("date").as("submit"),
        (col("l_orderkey") * 100 + col("l_linenumber")).as("inst"))
      val par = Tables.orders(s, d).select(
        col("o_orderkey").as("okey"), col("o_custkey").as("hhid"),
        col("o_orderpriority").as("pri"),
        when(col("o_orderstatus") === "O", "in")
          .when(col("o_orderstatus") === "F", "eos")
          .when(col("o_totalprice") < 100000, "out")
          .otherwise("refusal").as("status"))
      // ONE slice helper replaying the scan + broadcast-join subtree per
      // consumer (a shared localCheckpoint was MEASURED SLOWER at sf0.1:
      // materializing 600k joined rows costs more than broadcast joins
      // over pruned parquet scans). The three roster legs and the two
      // record forms each FOLD into single scans below — one window per
      // rollup family instead of one per leg (25 → ~half the exchanges).
      def slice(pris: String*) =
        par.filter(col("pri").isin(pris: _*)).join(rep, "okey")
      // v0demography roster: PARENT_KEY join + derived age, one row per
      // extid (reference Rmd:176-181; min() where the reference trusts
      // upstream distinctness)
      val v0 = slice("4-NOT SPECIFIED").groupBy("extid")
        .agg(min("hhid").as("hhid"), min("l_suppkey").as("fa_id"),
          min("submit").as("dob"))
        .select(col("extid"), col("hhid"), col("fa_id"),
          floor(datediff(runDate, col("dob")) / 365.25).cast("int").as("age"))
      val v0h = v0.groupBy("hhid").agg(min("fa_id").as("fa_h"))
      // per-arm roster legs folded into ONE scan: a leg tag picks the
      // slice-specific filter, and the latest-visit rollup runs as a
      // single window over (leg, extid) — identical per-leg semantics,
      // one shuffle instead of three (Rmd:252-309)
      val tagged = slice("1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW")
        .withColumn("leg",
          when(col("pri") === "3-MEDIUM", "sftynew")
            .when(col("pri") === "5-LOW", "eff").otherwise("sfty"))
        .filter(col("ls") === "F" &&
          when(col("leg") === "eff", col("rf") === "A")
            .otherwise(col("rf") =!= "N"))
      val latestLeg = Window.partitionBy("leg", "extid")
        .orderBy(col("submit").desc, col("inst").desc)
      val legs = tagged
        .withColumn("rn", row_number().over(latestLeg)).filter(col("rn") === 1)
        .select(col("extid"),
          when(col("leg") === "eff", "efficacy").otherwise("safety").as("study"),
          col("status"), col("submit"), col("inst"), col("hhid"), col("leg"),
          floor(col("l_quantity")).cast("int").as("own_age"))
        .join(v0.select("extid", "age", "fa_id"), Seq("extid"), "left")
        .join(v0h, Seq("hhid"), "left")
        .select(col("extid"), col("study"), col("status"), col("submit"),
          col("inst"),
          when(col("leg") === "sftynew", col("own_age"))
            .otherwise(col("age")).as("age"),
          when(col("leg") === "sftynew", col("fa_h"))
            .otherwise(col("fa_id")).as("fa_id"))
      // departures (left/migrated/died) are RARE events — the quantity
      // guard keeps the excluded-extid set at reference-like rarity
      // instead of letting any 'R'+'O' line mark a departure
      val dep = slice("1-URGENT", "2-HIGH", "5-LOW")
        .filter(col("rf") === "R" && col("ls") === "O" &&
          col("l_quantity") <= 2)
        .select("extid").distinct()
      val latest2 = Window.partitionBy("extid", "study")
        .orderBy(col("submit").desc, col("inst").desc)
      val roster = legs
        .filter(col("status").isin("in", "eos", "out"))
        .join(dep, Seq("extid"), "left_anti")
        .withColumn("rn2", row_number().over(latest2)).filter(col("rn2") === 1)
        .select("extid", "study", "status", "age", "fa_id")
      // verification ∪ resolution in ONE scan (rf partitions the two
      // forms): per-form rollup = one window over (extid, study, src),
      // then the union rolled AGAIN over (extid, study) — Rmd:330-385's
      // double rollup, two stacked windows instead of three subtrees
      val recs = slice("4-NOT SPECIFIED").select(col("extid"),
          when(col("okey") % 2 === 0, "safety").otherwise("efficacy").as("study"),
          when(col("rf") === "N", "resol").otherwise("verif").as("src"),
          when(col("rf") === "A", "Archived")
            .when(col("rf") === "R", "Rectification")
            .when(col("ls") === "F", "Archived")
            .otherwise("Lost-Not Found").as("icf_stat"),
          col("submit"), col("inst"))
      val latestSrc = Window.partitionBy("extid", "study", "src")
        .orderBy(col("submit").desc, col("inst").desc)
      val icf = recs
        .withColumn("rn", row_number().over(latestSrc)).filter(col("rn") === 1)
        .withColumn("rn2", row_number().over(latest2)).filter(col("rn2") === 1)
      icf.join(roster, Seq("extid", "study"))
        .select(col("extid"), col("study"), col("status"), col("icf_stat"),
          when(col("icf_stat") === "Rectification", "ICF Unresolved")
            .when(col("icf_stat") === "Lost-Not Found", "ICF Missing")
            .otherwise("ICF Archived").as("metric"),
          datediff(runDate, col("submit")).cast("long").as("aging_days"),
          col("age"), col("fa_id"))
    },

    // ---- g39: monitoring-issues site dashboard -------------------------------
    // The reference's site-UI family (pipeline-reporting/R/
    // monitoring-issues-ui/cra_site_ui.Rmd:90-300): report ids split into
    // (site identifier, snapshot) via separate(report_id) [r04]; issues
    // opened by 'Open' records and closed by 'Resolve' records that
    // reference a real open issue's instanceID (resolves that point
    // nowhere are ignored, matching the reference's %in% resolved_issue
    // guard); weekly as-of snapshots [W12] with per-site aging buckets
    // [W13]. The oracle brute-forces the week × issue grid; the engine
    // never materializes it — each issue contributes ≤4 week-index
    // INTERVALS (bucket regrades at +8d/+15d, exit at its resolve week,
    // 'closed' from the resolve week on), and +1/-1 deltas with a prefix
    // sum over the 6-week × site × bucket grid reconstruct every
    // snapshot count exactly (the g18 shape — the only form that
    // survives weekly snapshots over years of history at 100 TB).
    Query("g39_site_issue_dashboard",
      s"""WITH ${OracleSnippets.IssueEventCtes},
        |op0 AS (
        |  SELECT event_id AS inst, d AS opened,
        |         'site' || CAST(user_id % 8 AS VARCHAR) || '-' ||
        |           CAST(event_id % 100 AS VARCHAR) AS report_id
        |  FROM ev WHERE event_type = 'error'),
        |op AS (SELECT inst, opened, split_part(report_id, '-', 1) AS site
        |       FROM op0),
        |${OracleSnippets.issueResolvedCte("")},
        |iss AS (
        |  SELECT op.inst, op.site, op.opened, res.resolved
        |  FROM op LEFT JOIN res ON op.inst = res.issue_id),
        |${OracleSnippets.issueStateCtes("site")}
        |SELECT run_date, site, bucket, CAST(count(*) AS BIGINT) AS n
        |FROM st WHERE bucket IS NOT NULL
        |GROUP BY 1, 2, 3""".stripMargin) { (s, d) =>
      val ev = issueEvents(s, d)
      val op = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("inst"), col("d").as("opened"),
          concat(lit("site"), (col("user_id") % 8).cast("string"),
            lit("-"), (col("event_id") % 100).cast("string")).as("report_id"))
        .select(col("inst"), col("opened"),
          split_part(col("report_id"), lit("-"), lit(1)).as("site"))
      val res = ev.filter(col("event_type") === "purchase")
        .select((col("event_id") - 5).as("issue_id"), col("d").as("rd"))
        .join(op.select(col("inst")), col("issue_id") === col("inst"))
        .groupBy("issue_id").agg(min("rd").as("resolved"))
      val iss = op.join(res, col("inst") === col("issue_id"), "left")
      siteIssueSnapshots(iss, Seq("site"), "2024-01-01", 6)
    },

    // ---- g40: the v0 household ICF table ------------------------------------
    // The last residual reference report (pipeline-reporting/R/icf/
    // icf_v0_report.Rmd:104-160): signed repeat individuals RIGHT-joined
    // onto their v0demography parents (households with NO signed repeat
    // still appear, participant columns null — the reference's
    // right_join, a shape no other row exercises), icf_completed mapped
    // 1→yes/no, and the household-level verification form rolled to its
    // latest submission per hhid and LEFT-joined on. Row-per-participant
    // output, so the whole chain is under the hash.
    Query("g40_icf_v0_table",
      """WITH par AS (
        |  SELECT o_orderkey AS okey, o_custkey AS hhid,
        |         o_custkey % 20 AS cluster, o_orderkey % 97 AS wid,
        |         o_custkey % 50 AS fa_id,
        |         CASE WHEN o_orderstatus = 'F' THEN 'yes' ELSE 'no' END
        |           AS icf_completed,
        |         CAST(o_orderdate AS DATE) AS v0_submission_date
        |  FROM orders WHERE o_orderpriority = '4-NOT SPECIFIED'),
        |signed AS (
        |  SELECT l_orderkey AS okey,
        |         'P' || CAST(l_orderkey*100 + l_linenumber AS VARCHAR)
        |           AS participant_id,
        |         CAST(floor(l_quantity) AS INT) AS age,
        |         l_partkey AS extid
        |  FROM lineitem WHERE l_returnflag = 'A'),
        |base AS (
        |  SELECT p.hhid, p.cluster, p.wid, p.fa_id, p.icf_completed,
        |         p.v0_submission_date, s.participant_id, s.age, s.extid
        |  FROM signed s RIGHT JOIN par p ON s.okey = p.okey),
        |ver0 AS (
        |  SELECT o.o_custkey AS hhid, l.l_suppkey AS archivist_id,
        |         CAST(l.l_shipdate AS DATE) AS icf_submission_date,
        |         CASE l.l_returnflag WHEN 'A' THEN 'Archived'
        |                             WHEN 'R' THEN 'Rectification'
        |                             ELSE 'Lost-Not Found' END
        |           AS hh_icf_status,
        |         row_number() OVER (PARTITION BY o.o_custkey
        |           ORDER BY l.l_shipdate DESC,
        |                    l.l_orderkey*100 + l.l_linenumber DESC) AS rn
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  WHERE o.o_orderpriority = '3-MEDIUM'),
        |ver AS (SELECT hhid, archivist_id, icf_submission_date,
        |               hh_icf_status,
        |               'demography_icf_verification' AS source_id
        |        FROM ver0 WHERE rn = 1)
        |SELECT b.participant_id, b.age, b.extid, b.hhid, b.cluster,
        |       b.wid, b.fa_id, b.icf_completed, b.v0_submission_date,
        |       v.archivist_id,
        |       CAST(v.icf_submission_date AS VARCHAR) AS icf_submission_date,
        |       v.hh_icf_status, v.source_id
        |FROM base b LEFT JOIN ver v ON b.hhid = v.hhid""".stripMargin) {
      (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val par = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "4-NOT SPECIFIED")
        .select(col("o_orderkey").as("okey"), col("o_custkey").as("hhid"),
          (col("o_custkey") % 20).as("cluster"),
          (col("o_orderkey") % 97).as("wid"),
          (col("o_custkey") % 50).as("fa_id"),
          when(col("o_orderstatus") === "F", "yes").otherwise("no")
            .as("icf_completed"),
          col("o_orderdate").cast("date").as("v0_submission_date"))
      val signed = Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "A")
        .select(col("l_orderkey").as("okey"),
          concat(lit("P"), (col("l_orderkey") * 100 + col("l_linenumber"))
            .cast("string")).as("participant_id"),
          floor(col("l_quantity")).cast("int").as("age"),
          col("l_partkey").as("extid"))
      val base = signed.join(par, Seq("okey"), "right")
        .select("hhid", "cluster", "wid", "fa_id", "icf_completed",
          "v0_submission_date", "participant_id", "age", "extid")
      val w = Window.partitionBy("hhid")
        .orderBy(col("icf_submission_date").desc, col("inst").desc)
      val ver = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "3-MEDIUM")
        .join(Tables.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("hhid"),
          col("l_suppkey").as("archivist_id"),
          col("l_shipdate").cast("date").as("icf_submission_date"),
          when(col("l_returnflag") === "A", "Archived")
            .when(col("l_returnflag") === "R", "Rectification")
            .otherwise("Lost-Not Found").as("hh_icf_status"),
          (col("l_orderkey") * 100 + col("l_linenumber")).as("inst"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("hhid"), col("archivist_id"), col("icf_submission_date"),
          col("hh_icf_status"),
          lit("demography_icf_verification").as("source_id"))
      base.join(ver, Seq("hhid"), "left")
        .select(col("participant_id"), col("age"), col("extid"), col("hhid"),
          col("cluster"), col("wid"), col("fa_id"), col("icf_completed"),
          col("v0_submission_date"), col("archivist_id"),
          // NULLABLE date: as a string, or the gate's null canon diverges
          // (Spark None vs DuckDB NaT under a datetime64 column)
          col("icf_submission_date").cast("string").as("icf_submission_date"),
          col("hh_icf_status"), col("source_id"))
    },

    // ---- g43: the site-UI VARIANT family, table-driven -----------------------
    // The four monitoring-issues-ui reports share one engine
    // (cra_site_ui.Rmd is canonical; icf_site_ui.Rmd:129-130,
    // lab_site_ui.Rmd:129-130, pharmacy_site_ui.Rmd:130-131 diff only
    // in a per-form str_detect(report_id, 'ICF'|'LAB'|'PHARM') filter
    // and the SubmissionDate floor applied BEFORE the open/resolve
    // linkage — a resolve below the floor is dropped, leaving its
    // issue open). Here every variant rides ONE fused engine pass:
    // the form tag is just another grouping key through
    // siteIssueSnapshots, so four reports cost one set of exchanges.
    // The form/floor CASEs are shared ANSI fragments (engine expr()
    // and oracle parse the same strings).
    Query("g43_site_ui_variants",
      s"""WITH ${OracleSnippets.IssueEventCtes},
        |op0 AS (
        |  SELECT event_id AS inst, d AS opened, $SiteUiFormFrag AS form,
        |         'site' || CAST(user_id % 8 AS VARCHAR) AS site
        |  FROM ev WHERE event_type = 'error'),
        |op AS (SELECT * FROM op0 WHERE opened >= $SiteUiFloorFrag),
        |${OracleSnippets.issueResolvedCte("\n  WHERE r.rd >= " +
              SiteUiFloorFrag.replace("CASE form", "CASE op.form"))},
        |iss AS (
        |  SELECT op.inst, op.form, op.site, op.opened, res.resolved
        |  FROM op LEFT JOIN res ON op.inst = res.issue_id),
        |${OracleSnippets.issueStateCtes("form, site")}
        |SELECT run_date, form, site, bucket, CAST(count(*) AS BIGINT) AS n
        |FROM st WHERE bucket IS NOT NULL
        |GROUP BY 1, 2, 3, 4""".stripMargin) { (s, d) =>
      val ev = issueEvents(s, d)
      val op = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("inst"), col("d").as("opened"),
          expr(SiteUiFormFrag).as("form"),
          concat(lit("site"), (col("user_id") % 8).cast("string")).as("site"))
        .filter(col("opened") >= expr(SiteUiFloorFrag))
      val res = ev.filter(col("event_type") === "purchase")
        .select((col("event_id") - 5).as("issue_id"), col("d").as("rd"))
        .join(op.select("inst", "form"), col("issue_id") === col("inst"))
        .filter(col("rd") >= expr(SiteUiFloorFrag))
        .groupBy("issue_id").agg(min("rd").as("resolved"))
      val iss = op.join(res, col("inst") === col("issue_id"), "left")
      siteIssueSnapshots(iss, Seq("form", "site"), "2024-01-01", 6)
    },

    Query("g18_icf_aging",
      """WITH wk0 AS (
        |  SELECT unnest(generate_series(DATE '1996-01-06', DATE '1996-03-30',
        |                                INTERVAL 7 DAY)) AS rd),
        |wk AS (SELECT CAST(rd AS DATE) AS run_date FROM wk0),
        |roster AS (
        |  SELECT o_orderkey AS extid,
        |         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |              THEN 'safety' ELSE 'efficacy' END AS study,
        |         CASE WHEN o_orderstatus = 'O' THEN '' ELSE o_orderstatus END AS status,
        |         CAST(o_orderdate AS DATE) AS submit
        |  FROM orders),
        |icf AS (
        |  SELECT l.l_orderkey AS extid, r.study, r.status,
        |         CASE l.l_returnflag WHEN 'R' THEN 'Rectification'
        |                             WHEN 'A' THEN 'Archived'
        |                             ELSE 'Lost-Not Found' END AS icf_stat,
        |         CAST(l.l_shipdate AS DATE) AS submit
        |  FROM lineitem l JOIN roster r ON r.extid = l.l_orderkey),
        |icf_legs AS (
        |  SELECT w.run_date, i.study, i.extid,
        |         CASE WHEN i.icf_stat = 'Rectification'
        |                   AND datediff('day', i.submit, w.run_date) > 20
        |                THEN 'ICF Unresolved >20days'
        |              WHEN i.icf_stat = 'Rectification' THEN 'ICF Unresolved'
        |              WHEN i.icf_stat = 'Lost-Not Found' THEN 'ICF Missing'
        |              ELSE 'ICF Archived/Resolved' END AS metric_group
        |  FROM wk w JOIN icf i ON i.submit <= w.run_date
        |  WHERE i.study = 'safety' OR i.status <> ''),
        |unv AS (
        |  SELECT w.run_date, r.study, r.extid,
        |         CASE WHEN datediff('day', r.submit, w.run_date) > 30
        |                THEN 'ICF Missing (Unverified >30 days)'
        |              WHEN datediff('day', r.submit, w.run_date) > 20
        |                THEN 'ICF Unverified >20days'
        |              ELSE 'ICF Unverified' END AS metric_group
        |  FROM wk w JOIN roster r ON r.submit <= w.run_date
        |  WHERE NOT EXISTS (SELECT 1 FROM icf i
        |                    WHERE i.extid = r.extid AND i.study = r.study
        |                      AND i.submit <= w.run_date))
        |SELECT run_date, study, metric_group, CAST(count(DISTINCT extid) AS BIGINT) AS n
        |FROM (SELECT * FROM icf_legs UNION ALL SELECT * FROM unv)
        |GROUP BY 1, 2, 3""".stripMargin) {
      (s, d) => icfAging(
        Tables.orders(s, d).select("o_orderkey", "o_orderpriority",
          "o_orderstatus", "o_orderdate"),
        Tables.lineitem(s, d).select("l_orderkey", "l_returnflag", "l_shipdate"))
    }
  )

  /** The events as (event_id, d, user_id, event_type), the site-issue
    * rows' input (g39, g43; oracle twin `OracleSnippets.IssueEventCtes`). */
  private[queries] def issueEvents(s: org.apache.spark.sql.SparkSession,
                                   d: String): org.apache.spark.sql.DataFrame =
    Tables.events(s, d)
      .select(col("event_id"), col("ts").cast("date").as("d"),
        col("user_id"), col("event_type"))

  /** g39's engine, parameterized over the site-UI family
    * (pipeline-reporting/R/monitoring-issues-ui/ — cra_site_ui.Rmd is
    * the canonical shape; icf/lab/pharmacy_site_ui.Rmd:98-130 are the
    * same engine under a per-form report_id filter + date floor):
    * weekly as-of snapshots of open-issue aging buckets, reconstructed
    * from per-issue week-index INTERVALS (entry at the open week,
    * regrades at +8d/+15d — aging > 7/14 ⇔ run ≥ open+8/+15 — all
    * clipped at the resolve week; 'closed' from the resolve week on)
    * and +1/−1 deltas with a prefix sum over the
    * week × groupCols × bucket grid. Never materializes week × issue —
    * the only form that survives weekly snapshots over years of issue
    * history at 100 TB. `iss` needs groupCols ++ (opened DATE,
    * resolved DATE nullable); extra group columns (e.g. the form tag)
    * ride every exchange as grouping keys, so all four site-UI
    * variants cost ONE engine pass, not four.
    */
  def siteIssueSnapshots(iss: org.apache.spark.sql.DataFrame,
                         groupCols: Seq[String], baseDate: String,
                         nWeeks: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = iss.sparkSession
    val base = lit(baseDate).cast("date")
    // first grid week index whose run_date >= dt, clamped into [0, nWeeks]
    def kOf(dt: org.apache.spark.sql.Column) =
      least(lit(nWeeks), greatest(lit(0),
        ceil(datediff(dt, base) / 7.0)).cast("int"))
    val gcols = groupCols.map(col)
    val ks = kOf(col("opened"))
    val k8 = kOf(date_add(col("opened"), 8))
    val k15 = kOf(date_add(col("opened"), 15))
    val kr = coalesce(
      when(col("resolved").isNotNull, kOf(col("resolved"))), lit(nWeeks))
    val legs = iss.select(gcols :+ explode(array(
        struct(lit("0-7d").as("b"), ks.as("ks"), least(k8, kr).as("ke")),
        struct(lit("8-14d").as("b"), k8.as("ks"), least(k15, kr).as("ke")),
        struct(lit("15d+").as("b"), k15.as("ks"), kr.as("ke")),
        struct(lit("closed").as("b"), kr.as("ks"), lit(nWeeks + 1).as("ke"))
      )).as("iv"): _*)
      .select(gcols ++ Seq(col("iv.b").as("bucket"),
        col("iv.ks").as("ks"), col("iv.ke").as("ke")): _*)
      .filter(col("ks") < col("ke"))
    // pinned for the same two-consumer reason as icfAging's deltas:
    // week x groups x bucket cardinality, never week x issue
    val deltas = Materialize.pin(legs.select(gcols ++ Seq(col("bucket"), explode(concat(
        array(struct(col("ks").as("k"), lit(1L).as("dd"))),
        when(col("ke") <= nWeeks,
          array(struct(col("ke").as("k"), lit(-1L).as("dd"))))
          .otherwise(array()))).as("dl")): _*)
      .select(gcols ++ Seq(col("bucket"),
        col("dl.k").as("k"), col("dl.dd").as("dd")): _*)
      .groupBy((col("k") +: gcols :+ col("bucket")): _*).agg(sum("dd").as("dd")))
    val groups = deltas.select(gcols :+ col("bucket"): _*).distinct()
    val grid = s.range(0, nWeeks + 1).select(col("id").cast("int").as("k"))
      .crossJoin(broadcast(groups))
    val w = Window.partitionBy(gcols :+ col("bucket"): _*).orderBy("k")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(deltas, Seq("k") ++ groupCols :+ "bucket", "left")
      .withColumn("n", sum(coalesce(col("dd"), lit(0L))).over(w))
      .filter(col("n") > 0 && col("k") <= nWeeks - 1)
      .select(date_add(base, col("k") * 7).as("run_date") +: gcols
        :+ col("bucket") :+ col("n"): _*)
  }

  /** g18's engine: weekly ICF aging snapshots reconstructed from
    * per-record week-index intervals (entry / +21d / +31d regrades,
    * first-verification exit), island-unioned per (extid, group) so the
    * prefix sum yields exact DISTINCT counts. ordersDf/lineitemDf keep
    * their source column names, so any orders/lineitem pair (a scale
    * replica included) feeds through the same code. */
  def icfAging(ordersDf: org.apache.spark.sql.DataFrame,
               lineitemDf: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = ordersDf.sparkSession
    val base = lit("1996-01-06").cast("date")
    val nWeeks = 13
    // first grid week index whose run_date >= dt (clamped into [0, 13])
    def kOf(dt: org.apache.spark.sql.Column) =
      least(lit(nWeeks), greatest(lit(0), ceil(datediff(dt, base) / 7.0)).cast("int"))
    val roster = ordersDf.select(
      col("o_orderkey").as("extid"),
      when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "safety")
        .otherwise("efficacy").as("study"),
      when(col("o_orderstatus") === "O", "").otherwise(col("o_orderstatus")).as("status"),
      col("o_orderdate").cast("date").as("submit"))
    val icf = lineitemDf.select(
        col("l_orderkey").as("extid"),
        when(col("l_returnflag") === "R", "Rectification")
          .when(col("l_returnflag") === "A", "Archived")
          .otherwise("Lost-Not Found").as("icf_stat"),
        col("l_shipdate").cast("date").as("isubmit"))
      .join(roster.select("extid", "study", "status"), Seq("extid"))
    // verification records: entry at kOf(submit), Rectification regrades
    // at kOf(submit+21d) (aging > 20 <=> run_date >= submit+21)
    val iks = kOf(col("isubmit"))
    val ik20 = kOf(date_add(col("isubmit"), 21))
    val icfLegs = icf
      .filter(col("study") === "safety" || col("status") =!= "")
      .select(col("study"), col("extid"), explode(
        when(col("icf_stat") === "Rectification", array(
          struct(lit("ICF Unresolved").as("m"), iks.as("ks"), ik20.as("ke")),
          struct(lit("ICF Unresolved >20days").as("m"), ik20.as("ks"),
            lit(nWeeks).as("ke"))))
        .when(col("icf_stat") === "Lost-Not Found", array(
          struct(lit("ICF Missing").as("m"), iks.as("ks"), lit(nWeeks).as("ke"))))
        .otherwise(array(
          struct(lit("ICF Archived/Resolved").as("m"), iks.as("ks"),
            lit(nWeeks).as("ke")))).as("ivs")).as("iv"))
    // the per-week anti-join is an interval too: a roster row is
    // unverified until the extid's FIRST verification week (min is
    // exchanged through kOf — monotone — so the agg ships ints).
    // Computed from the bare lineitem scan, NOT the icf join: the
    // min needs no roster columns, and reusing `icf` here would
    // replay the join subtree (the g09/g13 lesson)
    val firstIcf = lineitemDf
      .groupBy(col("l_orderkey").as("extid"))
      .agg(min(kOf(col("l_shipdate").cast("date"))).as("kv"))
    val rks = kOf(col("submit"))
    val rk20 = kOf(date_add(col("submit"), 21))
    val rk30 = kOf(date_add(col("submit"), 31))
    val unvLegs = roster.join(firstIcf, Seq("extid"), "left")
      .withColumn("kv", coalesce(col("kv"), lit(nWeeks)))
      .select(col("study"), col("extid"), explode(array(
        struct(lit("ICF Unverified").as("m"), rks.as("ks"),
          least(rk20, col("kv")).as("ke")),
        struct(lit("ICF Unverified >20days").as("m"), rk20.as("ks"),
          least(rk30, col("kv")).as("ke")),
        struct(lit("ICF Missing (Unverified >30 days)").as("m"), rk30.as("ks"),
          col("kv").as("ke")))).as("iv"))
    val legs = icfLegs.unionByName(unvLegs)
      .select(col("study"), col("extid"), col("iv.m").as("m"),
        col("iv.ks").as("ks"), col("iv.ke").as("ke"))
      .filter(col("ks") < col("ke"))
    // union overlapping intervals per (extid, study, m) so the same
    // extid never double-counts a week: only 'ICF Unresolved' (bounded
    // windows from multiple records) strictly needs the merge, but the
    // uniform islands pass is one tiny per-key window
    val byKey = Window.partitionBy("extid", "study", "m").orderBy("ks", "ke")
    val prevMax = max("ke").over(byKey.rowsBetween(Window.unboundedPreceding, -1))
    // keyed repartition to the session parallelism: the islands window's
    // own exchange moves ~2 MB, which AQE coalesces to ONE post-shuffle
    // partition — the whole window+delta pipeline then runs single-task
    // (~1.5 s at sf0.1). A user repartition on the window keys satisfies
    // the window's ClusteredDistribution (no second exchange appears)
    // and is exempt from AQE coalescing, so the pass stays parallel.
    val fannedLegs = legs.repartition(
      legs.sparkSession.sparkContext.defaultParallelism,
      col("extid"), col("study"), col("m"))
    val islands = fannedLegs
      .withColumn("isNew", when(prevMax.isNull || col("ks") >= prevMax, 1).otherwise(0))
      .withColumn("isl", sum("isNew").over(byKey.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("extid", "study", "m", "isl")
      .agg(min("ks").as("ks"), max("ke").as("ke"))
    // two consumers (groups + the grid join) re-ran the whole
    // legs->islands->deltas pipeline; the table is week x study x metric
    // rows (182 at sf0.01 and sf0.1) — hold it (the g41 lesson)
    val deltas = Materialize.small(islands.select(col("study"), col("m"), explode(concat(
        array(struct(col("ks").as("k"), lit(1L).as("d"))),
        when(col("ke") < nWeeks, array(struct(col("ke").as("k"), lit(-1L).as("d"))))
          .otherwise(array()))).as("dl"))
      .select(col("study"), col("m"), col("dl.k").as("k"), col("dl.d").as("d"))
      .groupBy("k", "study", "m").agg(sum("d").as("d")))
    val groups = deltas.select("study", "m").distinct()
    val grid = s.range(0, nWeeks).select(col("id").cast("int").as("k"))
      .crossJoin(broadcast(groups))
    val w = Window.partitionBy("study", "m").orderBy("k")
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(deltas, Seq("k", "study", "m"), "left")
      .withColumn("n", sum(coalesce(col("d"), lit(0L))).over(w))
      .filter(col("n") > 0)
      .select(date_add(base, col("k") * 7).as("run_date"), col("study"),
        col("m").as("metric_group"), col("n"))
  }
}
