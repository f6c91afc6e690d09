package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Anomalies

class SourcesSpec extends SparkSpec {

  test("CSV round-trip with explicit schema (no inferSchema)") {
    val dir = graft.core.TempDirs.scratch("graft_csv").toString
    val d = df("SELECT * FROM VALUES (1, 'a', DATE'2024-01-05'), (2, 'b', DATE'2024-02-06') t(id, s, d)")
    d.write.mode("overwrite").option("header", "true").csv(dir)
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("s", StringType),
      StructField("d", DateType)))
    val back = spark.read.option("header", "true").schema(schema).csv(dir)
    assert(back.schema == schema)
    assert(rows(back) == rows(d))
  }

  test("partitioned history write: append days, dynamic overwrite is idempotent") {
    val root = graft.core.TempDirs.scratch("graft_hist").toString
    val day1 = java.time.LocalDate.of(2026, 1, 1)
    val day2 = java.time.LocalDate.of(2026, 1, 2)
    val snap1 = df("SELECT 'k1' AS key, 'f' AS form_id")
    val snap2 = df("SELECT * FROM VALUES ('k1', 'f'), ('k2', 'f') t(key, form_id)")
    Anomalies.writeHistory(snap1, root, day1)
    Anomalies.writeHistory(snap2, root, day2)
    // re-run of day2 must replace, not duplicate (idempotent daily job)
    Anomalies.writeHistory(snap2, root, day2)
    val all = spark.read.parquet(root)
    assert(all.columns.contains("partition_date"), "partition column must be discovered")
    assert(all.count() == 3)
    assert(all.filter(col("partition_date") === "2026-01-02").count() == 2)
  }

  test("partition pruning reaches the scan for partition_date filters") {
    val root = graft.core.TempDirs.scratch("graft_hist2").toString
    Anomalies.writeHistory(df("SELECT 'a' AS key"), root, java.time.LocalDate.of(2026, 1, 1))
    Anomalies.writeHistory(df("SELECT 'b' AS key"), root, java.time.LocalDate.of(2026, 1, 2))
    val q = spark.read.parquet(root).filter(col("partition_date") === "2026-01-01")
    val plan = q.queryExecution.executedPlan.toString
    assert(q.count() == 1)
    assert(plan.contains("PartitionFilters") &&
      plan.contains("partition_date"), s"expected partition filter in:\n$plan")
  }

  test("io11 fact scan receives a dynamicpruning subquery (DPP fires)") {
    // the io11 registry row's oracle proves the VALUES; this pins the
    // PLAN — a config or shape regression that silently full-scans the
    // fact table would keep the oracle green and fail here
    val q = SparkEntry.queries("io11_dynamic_partition_pruning")(
      spark, "/root/testdata/sf0.001")
    q.collect() // finalize the adaptive plan so the subquery is visible
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"expected a dynamicpruning PartitionFilter in:\n${plan.take(4000)}")
    assert(plan.contains("SubqueryBroadcast"),
      "the pruning subquery must reuse the broadcast side")
  }

  test("empty-schema placeholder preserves schema with zero rows (S12)") {
    val d = graft.core.Tables.orders(spark, "/root/testdata/sf0.001")
    val empty = d.limit(0)
    assert(empty.schema == d.schema)
    assert(empty.count() == 0)
  }
}
