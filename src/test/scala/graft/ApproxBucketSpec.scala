package graft

import org.apache.spark.sql.functions._
import graft.operators.OdkKeys

class ApproxBucketSpec extends SparkSpec {

  test("approx_count_distinct within 5% of exact at sf0.01") {
    val li = graft.core.Tables.lineitem(spark, "/root/testdata/sf0.01")
    val joined = li.groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("a"),
        countDistinct(col("l_orderkey")).as("e"))
      .collect()
    joined.foreach { r =>
      val (a, e) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(a - e) / e < 0.05, s"approx $a vs exact $e")
    }
  }

  test("single-flavor distinct aggregations stay Expand-free") {
    // MIXING exact countDistinct with approx_count_distinct in one
    // aggregate forces an Expand that multiplies the input. Measured on
    // lineitem replicated 100x (~sf10, 60M rows, local[32]): the mixed
    // aggregate took 453.5 s (8.8 s at 10x) as its 2x-Expanded exchange
    // went spill-bound, against 48.7 s for the Expand-free two-level
    // form (distinct pairs then count, plus a pure-HLL leg) that a17
    // and r10 use. Multi-exact distinct (a02/a03) legitimately Expands;
    // the guard is that the pure-approx query and the shared-base
    // metrics report never do.
    val d = "/root/testdata/sf0.001"
    for (q <- Seq("a17_approx_distinct", "r10_shared_base_metrics")) {
      val plan = SparkEntryHelper.run(q, spark, d).queryExecution.executedPlan.toString
      assert(!plan.contains("Expand"), s"$q plan grew an Expand:\n$plan")
    }
  }

  test("OdkKeys parses parent and child keys") {
    val d = df(
      """SELECT * FROM VALUES
        |  ('uuid:abc-123'), ('uuid:abc-123/repeat_individual[3]')
        |  t(key)""".stripMargin)
    val out = d.select(col("key"),
      OdkKeys.repeatName(col("key")).as("rn"),
      OdkKeys.repeatKey(col("key")).as("rk"))
    assert(rows(out) == Set(
      Seq("uuid:abc-123", "", null),
      Seq("uuid:abc-123/repeat_individual[3]", "repeat_individual", 3)))
  }

  test("bucketed tables join without an exchange (co-located join)") {
    val sp = spark.newSession()
    sp.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    sp.conf.set("spark.sql.sources.bucketing.enabled", "true")
    sp.sql("DROP TABLE IF EXISTS bkt_a")
    sp.sql("DROP TABLE IF EXISTS bkt_b")
    // the in-memory catalog forgets tables across JVMs but the warehouse
    // directories survive — clear them so saveAsTable can recreate
    val wh = new java.net.URI(sp.conf.get("spark.sql.warehouse.dir")).getPath
    Seq("bkt_a", "bkt_b").foreach { t =>
      val dir = java.nio.file.Paths.get(wh, t)
      if (java.nio.file.Files.exists(dir)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    val a = sp.range(10000).select(col("id").as("k"), (col("id") * 2).as("va"))
    val b = sp.range(10000).select(col("id").as("k"), (col("id") * 3).as("vb"))
    a.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bkt_a")
    b.write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bkt_b")
    val j = sp.table("bkt_a").join(sp.table("bkt_b"), "k")
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
    assert(j.count() == 10000)
    // contrast: the same join over unbucketed parquet shuffles both sides
    val pa = graft.core.TempDirs.scratch("graft_pq").toString
    a.write.mode("overwrite").parquet(pa)
    val plain = sp.read.parquet(pa).join(b, "k")
    assert(plain.queryExecution.executedPlan.toString.contains("Exchange"))
  }
}
