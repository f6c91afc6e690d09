package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructType}

import graft.core.Tables

/** Pins `Tables.load`'s schema cache: a repeat load of an unchanged file
  * runs no Spark job (in the shared session and in a child session), a
  * rewritten file or directory is re-inferred, and a session whose
  * parquet type-mapping confs differ gets its own entry. Jobs are counted
  * by a job tag on this thread, after draining the listener bus.
  */
class TablesSpec extends SparkSpec {
  private val sf = Paths.get(PlanGolden.sfDir).resolveSibling("sf0.01").toString

  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"tables-spec-${java.util.UUID.randomUUID()}"
    sc.addJobTag(tag)
    val r = try body finally sc.removeJobTag(tag)
    org.apache.spark.GraftListenerShim.waitUntilListenerBusEmpty(sc, 10000)
    (r, sc.statusTracker.getJobIdsForTag(tag).length)
  }

  private def withTempDir[T](f: Path => T): T = {
    val dir = Files.createTempDirectory("tables_spec_")
    try f(dir) finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** `df` as ONE parquet file at `target`, replacing any file there. */
  private def writeSingleFile(df: DataFrame, target: Path): Unit = {
    val tmp = Files.createTempDirectory("tables_spec_w_")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.resolve("o").toString)
      val part = graft.core.Fs.listDir(tmp.resolve("o"))
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  private def uncached(s: SparkSession, path: String): StructType =
    s.read.parquet(path).schema

  test("a repeat load of an sf0.01 table runs no job, in a child session too") {
    val path = s"$sf/supplier.parquet"
    Tables.load(spark, sf, "supplier")
    val (again, jobs) = jobsDuring(Tables.load(spark, sf, "supplier"))
    assert(jobs == 0, s"repeat load ran $jobs job(s)")
    assert(again.schema == uncached(spark, path))
    val child = spark.newSession()
    val (inChild, childJobs) = jobsDuring(Tables.load(child, sf, "supplier"))
    assert(childJobs == 0, s"child-session load ran $childJobs job(s)")
    assert(inChild.schema == uncached(child, path))
    // fresh relations: a self-join still resolves both sides
    assert(again.join(Tables.load(spark, sf, "supplier"), "s_suppkey").count() ==
      again.count())
  }

  test("rewriting a parquet file at the same path re-infers its schema") {
    withTempDir { dir =>
      val file = dir.resolve("t.parquet")
      writeSingleFile(spark.range(3).selectExpr("id AS a"), file)
      assert(Tables.load(spark, dir.toString, "t").schema.fieldNames.toSeq == Seq("a"))
      writeSingleFile(spark.range(3).selectExpr("CAST(id AS STRING) AS b",
        "id * 2 AS c", "id * 3 AS d"), file)
      val after = Tables.load(spark, dir.toString, "t")
      assert(after.schema == uncached(spark, file.toString))
      assert(after.schema.fieldNames.toSeq == Seq("b", "c", "d"))
      assert(after.collect().length == 3)
    }
  }

  test("rewriting a multi-file Spark output directory re-infers its schema") {
    withTempDir { dir =>
      val out = dir.resolve("t.parquet").toString
      spark.range(10).selectExpr("id AS a").repartition(2)
        .write.mode("overwrite").parquet(out)
      val first = Tables.load(spark, dir.toString, "t")
      assert(graft.core.Fs.listDir(Paths.get(out))
        .count(_.getFileName.toString.endsWith(".parquet")) >= 2)
      assert(first.schema.fieldNames.toSeq == Seq("a"))
      assert(jobsDuring(Tables.load(spark, dir.toString, "t"))._2 == 0)
      spark.range(10).selectExpr("id AS x", "CAST(id AS STRING) AS y").repartition(3)
        .write.mode("overwrite").parquet(out)
      val after = Tables.load(spark, dir.toString, "t")
      assert(after.schema == uncached(spark, out))
      assert(after.schema.fieldNames.toSeq == Seq("x", "y"))
      assert(after.count() == 10)
    }
  }

  test("a child session with another type-mapping conf gets its own schema entry") {
    withTempDir { dir =>
      // TIMESTAMP(NANOS) ts, the encoding of earlier testdata drops; Spark
      // cannot write it, so go through parquet-mr directly
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      import org.apache.parquet.schema.MessageTypeParser
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; " +
          "optional int64 ts (TIMESTAMP(NANOS,false)); optional binary tag; }")
      val file = dir.resolve("events.parquet")
      val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toString))
        .withType(schema).build()
      try {
        val g = new SimpleGroupFactory(schema)
        w.write(g.newGroup().append("event_id", 1L).append("ts", 1700000000123456789L)
          .append("tag", "x"))
      } finally w.close()

      def load(s: SparkSession) = Tables.load(s, dir.toString, "events")
      assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
      assert(load(spark).schema == uncached(spark, file.toString))
      assert(load(spark).schema("ts").dataType == LongType)
      // Spark 4 has no type for TIMESTAMP(NANOS) without nanosAsLong: the
      // uncached read fails, and so must the load, rather than reuse the
      // shared session's LongType entry
      val noNanos = spark.newSession()
      noNanos.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      val expected = intercept[org.apache.spark.sql.AnalysisException](
        uncached(noNanos, file.toString))
      val got = intercept[org.apache.spark.sql.AnalysisException](load(noNanos))
      assert(got.getCondition == expected.getCondition, got.getMessage)
      // a conf that maps to another type: unannotated binary as string
      val asString = spark.newSession()
      asString.conf.set("spark.sql.parquet.binaryAsString", "true")
      assert(load(asString).schema == uncached(asString, file.toString))
      assert(load(asString).schema("tag").dataType == StringType)
      // both entries stay: each session keeps reading its own types
      assert(load(spark).schema("tag").dataType == BinaryType)
      assert(load(spark).schema("ts").dataType == LongType)
      assert(load(asString).collect().head.getString(2) == "x")
    }
  }
}
