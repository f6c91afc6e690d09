package graft

import org.apache.spark.sql.functions._

/** Invariant companions for the g06/g07 composites — the oracle rows
  * prove Spark == DuckDB; these prove the compositions are exercising
  * every load-bearing stage (a vacuous fixture would pass the gate
  * while pinning nothing).
  */
class CompositeReportSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  // ---- g06 stock ledger ---------------------------------------------------

  private lazy val ledger =
    SparkEntry.queries("g06_stock_ledger")(spark, sfDir).persist()

  test("g06: all three unpivoted items survive the name mapping") {
    val items = ledger.select("item").distinct().collect().map(_.getString(0)).toSet
    assert(items == Set("alb", "ivm", "prdt"))
  }

  test("g06: running balance prefix sum is consistent per item") {
    // last week's running_balance must equal the item's total net balance
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("item").orderBy(col("run_week").desc)
    val last = ledger.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("item", "running_balance")
    val total = ledger.groupBy("item")
      .agg(sum("balance").as("tot"))
    val bad = last.join(total, "item")
      .filter(abs(col("running_balance") - col("tot")) > 1e-6)
    assert(bad.isEmpty, bad.collect().mkString(", "))
  }

  test("g06: replace_na(0) is load-bearing (nulled ivm mass dropped)") {
    // ivm = 2x alb where discount <= 0.05, NULL->0 otherwise: strict <
    val t = ledger.groupBy("item").agg(sum("arrivals").as("a"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(t("ivm") > 0 && t("ivm") < 2 * t("alb") - 1e-6,
      s"ivm=${t("ivm")} vs 2*alb=${2 * t("alb")}")
  }

  test("g06: aging buckets and dose bands both branch") {
    assert(ledger.select("age_bucket").distinct().count() >= 2)
    assert(ledger.select("dose_tablets").distinct().count() >= 2)
  }

  // ---- g08 lab reconciliation ---------------------------------------------

  private lazy val lab =
    SparkEntry.queries("g08_lab_reconciliation")(spark, sfDir).persist()

  test("g08: full snapshot grid materializes, including zero rows") {
    assert(lab.count() == 13 * 5, s"expected 13 weeks x 5 studies")
  }

  test("g08: escalation metric bounded by pending and both exercised") {
    assert(lab.filter(col("n_pending_gt10") > col("n_pending")).isEmpty)
    assert(lab.filter(col("n_pending") < 0).isEmpty, "difference array went negative")
    assert(lab.filter(col("n_pending_gt10") > 0).count() > 0, "gt10 clock never fired")
    assert(lab.filter(col("n_pending_gt10") < col("n_pending")).count() > 0,
      "young-pending never exercised")
  }

  // ---- g07 resolution round-trip -----------------------------------------

  private lazy val sheet =
    SparkEntry.queries("g07_resolution_roundtrip")(spark, sfDir).persist()

  private def statuses(salt: String) = {
    val anom = graft.operators.Anomalies.detectThreshold(
      graft.core.Tables.orders(spark, sfDir), "orders",
      "totalprice_too_high", "o_orderkey", col("o_totalprice"), 350000.0)
    val h = substring(md5(concat(col("resolution_id"), lit(salt))), 1, 2)
    anom.select(col("resolution_id"),
      when(h < "20", "confirmed_correct")
        .when(h < "30", "manual_resolution_done")
        .when(h < "48", "in_progress")
        .when(h < "58", "blocked").otherwise("to_do").as("st"))
  }

  test("g07: no ever-confirmed id survives into the next sheet") {
    // ever-resolved keeps the FIRST-seen history row per id: run-2
    // confirmations only count when run 1 exported nothing for the id
    val h1resolved = statuses(":h1")
      .filter(col("st").isin("confirmed_correct", "manual_resolution_done"))
    val confirmed = statuses(":h1").filter(col("st") === "confirmed_correct")
      .unionByName(statuses(":h2").filter(col("st") === "confirmed_correct")
        .join(h1resolved.select("resolution_id"), Seq("resolution_id"), "left_anti"))
      .select("resolution_id").distinct()
    assert(confirmed.count() > 0, "fixture produced no confirmed ids")
    assert(sheet.join(confirmed, "resolution_id").isEmpty)
  }

  test("g07: manual_resolution_done does NOT remove (populate.py:17)") {
    // every run-1 manual id stays on the sheet — even when run 2
    // confirms it, because first-seen history masks the later row
    val manual = statuses(":h1").filter(col("st") === "manual_resolution_done")
      .select("resolution_id")
    assert(manual.count() > 0, "fixture produced no manual ids")
    assert(sheet.join(manual, "resolution_id").count() == manual.count())
  }

  test("g07: carried statuses applied, everything else to_do") {
    val sts = sheet.select("resolution_status").distinct()
      .collect().map(_.getString(0)).toSet
    assert(sts.subsetOf(Set("to_do", "in_progress", "blocked")), sts.toString)
    assert(sts.contains("in_progress") && sts.contains("blocked"),
      s"carry-forward not exercised: $sts")
  }

  // ---- g29 se_and_pfu full fan-out ---------------------------------------

  test("g29: one cached orders scan feeds all 9 indicator slices") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec,
      QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    // the metric table is held by Materialize.small: the build's one
    // collect is the only orders scan, and both consumers read its rows
    val built = scala.collection.mutable.ArrayBuffer.empty[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        built.synchronized(built += qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val df = try SparkEntry.queries("g29_se_fanout")(spark, sfDir) finally {
      org.apache.spark.GraftListenerShim.waitUntilListenerBusEmpty(spark.sparkContext, 10000)
      spark.listenerManager.unregister(listener)
    }
    df.collect() // settle AQE
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec        => q +: nodes(q.plan)
      case _                        => p +: p.children.flatMap(nodes)
    }
    def ordersScans(ps: Seq[SparkPlan]) = ps.collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.mkString.contains("orders") => f
    }.size
    val live = nodes(df.queryExecution.executedPlan)
    assert(ordersScans(live) == 0,
      "orders re-scanned outside the held metric table")
    assert(live.exists(_.isInstanceOf[LocalTableScanExec]), "metric table not held")
    val buildScans = built.synchronized(built.map(qe => ordersScans(nodes(qe.executedPlan))).sum)
    assert(buildScans == 1, "the held metric table must scan orders exactly once")
  }

  test("g29: fan-out identities - slices partition the base where they should") {
    val rows = SparkEntry.queries("g29_se_fanout")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      def l(c: String) = r.getAs[Long](c)
      // status slices partition the individual count
      assert(l("ind_in") + l("ind_out") + l("ind_eos") == l("ind_overall"))
      // absent-reason slices are disjoint sub-counts
      assert(l("ind_in_absent") <= l("ind_in"))
      assert(l("ind_out_absent") <= l("ind_out"))
      assert(l("ind_migrated") + l("ind_died") <= l("ind_overall"))
      // household counts can never exceed individual counts
      Seq("overall", "in", "eos", "out", "refusal", "migrated", "died")
        .foreach(n => assert(r.getAs[Long](s"hh_$n") <= r.getAs[Long](s"ind_$n"), n))
      // coverage ratio is the documented division
      assert(r.getAs[Double]("hh_overall_perc") ==
        l("hh_overall").toDouble / l("hh_target"))
    }
    spark.sharedState.cacheManager.clearCache()
  }
}
