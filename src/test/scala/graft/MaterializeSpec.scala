package graft

import graft.core.Materialize
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** Pins each `Materialize` mode's contract: what `small` keeps, what it
  * survives, and what `release` frees. The last case is a source lint:
  * no file under src/main/scala but core/Materialize.scala holds an
  * intermediate any other way.
  */
class MaterializeSpec extends SparkSpec {

  private lazy val mixed = spark.sql(
    """SELECT id, CAST(id * 1.25 AS DECIMAL(18,4)) AS dec,
      |       IF(id % 2 = 0, NULL, CAST(id AS STRING)) AS maybe,
      |       array(id, id + 1) AS arr, map('k', id) AS m,
      |       timestamp_micros(1709296496789012 + id) AS ts
      |FROM range(5)""".stripMargin)

  test("small keeps the schema (nullability, decimal, array, map, timestamp) and the rows") {
    val s = Materialize.small(mixed)
    assert(s.schema === mixed.schema)
    assert(!s.schema("id").nullable && s.schema("maybe").nullable)
    assert(sortedRows(s) === sortedRows(mixed))
    assert(s.queryExecution.executedPlan.toString.contains("LocalTableScan"))
  }

  test("a small frame survives dropped blocks; a pinned one does not") {
    val src = spark.range(0, 40).selectExpr("id % 4 AS k", "id AS v")
      .groupBy("k").sum("v")
    val s = Materialize.small(src)
    val p = Materialize.pin(src)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(s.collect().length === 4)
    assert(intercept[Exception](p.collect()).getMessage
      .contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"))
  }

  test("a self-join of a small frame analyzes") {
    val s = Materialize.small(spark.range(0, 6).selectExpr("id % 3 AS k", "id AS v"))
    val j = s.join(s.withColumnRenamed("v", "v2"), "k")
    assert(j.count() === 12)
  }

  test("small over the row limit throws with the count") {
    val n = Materialize.SmallRowLimit + 1
    val e = intercept[IllegalStateException](Materialize.small(spark.range(0, n).toDF()))
    assert(e.getMessage.contains(s"$n rows"))
  }

  test("release frees a pin's blocks and unpersists a shared frame") {
    graft.core.Sessions.clearCaches(spark)
    val before = spark.sparkContext.getPersistentRDDs.size
    val p = Materialize.pin(spark.range(0, 100).toDF())
    assert(spark.sparkContext.getPersistentRDDs.size === before + 1)
    Materialize.release(p)
    assert(spark.sparkContext.getPersistentRDDs.size === before)

    val sh = Materialize.shared(spark.range(0, 100).selectExpr("id * 2 AS x"))
    assert(sh.count() === 100)
    assert(sh.storageLevel === StorageLevel.MEMORY_AND_DISK)
    Materialize.release(sh)
    assert(sh.storageLevel === StorageLevel.NONE)
  }

  test("only core/Materialize.scala checkpoints, persists or caches (source lint, no Spark)") {
    val banned = """\.localCheckpoint\(|\.checkpoint\(|\.persist\(|\.cache\(\)""".r
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root)
    val offenders = try files.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.endsWith("core/Materialize.scala"))
      .flatMap { p =>
        val lines = java.nio.file.Files.readAllLines(p).asScala.zipWithIndex
        lines.collect { case (l, i) if banned.findFirstIn(l).isDefined => s"$p:${i + 1}: ${l.trim}" }
      }.toList
    finally files.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
