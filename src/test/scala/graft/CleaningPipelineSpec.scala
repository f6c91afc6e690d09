package graft

import org.apache.spark.sql.functions._
import graft.core.Conditional
import graft.operators._

/** Integration test: the reference's cleaning DAG (SURVEY §3.1) run
  * end-to-end over a small synthetic form — the R10 split-apply shape
  * where a driver loop maps each form through pure DataFrame stages:
  *
  *   standardize → resolution SET/DELETE → sanitize (PII/hash/jitter)
  *     → anomaly detection → consolidated history write → summary
  */
class CleaningPipelineSpec extends SparkSpec {

  test("full cleaning DAG over a form registry") {
    val sp = spark; import sp.implicits._

    // two "forms" with heterogeneous schemas (one lacks GPS columns)
    val safety = Seq(
      ("uuid:1", "7", "v1", "  john  doe ", 36.8, -1.3, "2008-03-01"),
      ("uuid:2", "7", "V1", "jane roe", 36.9, -1.2, "1990-07-15"),
      ("uuid:2b", "7", "V1", "dup visit", 36.7, -1.1, "1985-01-01"),
      ("uuid:3", "12", "V2", "to delete", 36.5, -1.4, "2000-01-01"))
      .toDF("KEY", "hhid", "visit", "name", "Longitude", "Latitude", "dob")
    val demo = Seq(("uuid:9", "3", "V1", "ann")).toDF("KEY", "hhid", "visit", "name")

    val resolution = Seq(
      ("uuid:3", Option.empty[String], Option.empty[String], "DELETE"),
      ("uuid:1", Some("visit"), Some("V1"), "SET"))
      .toDF("key", "column", "setTo", "operation")

    def cleanOne(form: org.apache.spark.sql.DataFrame) = {
      val standardized = Conditional.whenHasColumn(form, "visit") { d =>
        d.withColumn("visit", upper(col("visit")))
      }.transform(d => Conditional.whenHasColumn(d, "name")(d2 =>
        d2.withColumn("name", Standardize.standardizeCase(col("name")))))
        .withColumn("hhid", Standardize.padHhid(col("hhid")))
      val resolved = Resolution.applyResolution(standardized, resolution, "KEY")
      val sanitized = Conditional.whenHasColumns(
        resolved, Seq("Longitude", "Latitude")) { d =>
        Sanitize.jitterLocation(d, "hhid", "Longitude", "Latitude", r = 0.01, seed = 1001)
      }.transform(d => Sanitize.hashIds(d, Seq("name")))
      (resolved, sanitized)
    }

    val (safetyClean, safetySan) = cleanOne(safety)
    val (demoClean, demoSan) = cleanOne(demo)

    // resolution applied: uuid:3 deleted, uuid:1 visit fixed to V1
    assert(safetyClean.count() == 3)
    assert(safetyClean.filter(col("KEY") === "uuid:1").head().getAs[String]("visit") == "V1")
    // sanitation: names hashed (40-hex sha1), jitter displaced GPS
    assert(safetySan.filter(col("name").rlike("^[0-9a-f]{40}$")).count() == 3)
    assert(demoSan.columns.toSeq == demoClean.columns.toSeq, "no GPS columns → no jitter")

    // anomaly detection across forms, consolidated
    val dupAnomalies = Anomalies.detectDuplication(
      safetyClean, "safety", "dup_visit", Seq("hhid", "visit"), "KEY")
    val anomalies = Anomalies.consolidate(Seq(
      dupAnomalies,
      Anomalies.detectThreshold(demoClean.withColumn("x", lit(99.0)),
        "demo", "x_gt_50", "KEY", col("x"), 50.0)))
    assert(anomalies.count() == 2)
    assert(anomalies.filter(col("anomalies_id") === "dup_visit")
      .head().getAs[String]("anomalies_description").contains("uuid:1"))

    // partitioned history + summary snapshot
    val root = graft.core.TempDirs.scratch("graft_pipe_hist").toString
    Anomalies.writeHistory(anomalies, root, java.time.LocalDate.of(2026, 8, 12))
    val hist = spark.read.parquet(root)
    assert(hist.count() == 2 && hist.columns.contains("partition_date"))
    val summary = Anomalies.summarize(anomalies, lit("2026-08-12"))
    assert(rows(summary.select("form_id", "anomalies_id", "n")) ==
      Set(Seq("safety", "dup_visit", 1L), Seq("demo", "x_gt_50", 1L)))
  }
}
