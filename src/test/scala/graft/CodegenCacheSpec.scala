package graft

import java.nio.file.Paths
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.core.{Query, Sessions}
import graft.queries._

/** Pins the two `Sessions.local` settings that let a refresh re-run
  * rows without compiling their classes again.
  *  - The size of Spark's generated-code cache: a refresh that re-runs
  *    the same batch rows finds every class it compiled before still in
  *    the cache. The rows are perfbench's `report_refresh` pass at
  *    sf0.01, every 20th row of each reporting pack; their ~160 distinct
  *    classes overflow Spark's default cap of 100, so a second pass
  *    recompiled 147 of them.
  *  - Artifact isolation off: rows that run in a child session
  *    (`newSession()`) share the executor's classloader, so their task
  *    classes hit the cache on the next run. With isolation on, each new
  *    session got its own task classloader, and a second run of st01,
  *    st12 and io05 recompiled 13, 25 and 20 classes.
  *
  * A second pass may still compile a few classes that are new: adaptive
  * execution numbers whole-stage codegen stages in the order their query
  * stages are created, which follows whichever concurrent shuffle stage
  * finished first, and the stage id is part of the generated source. So
  * the spec reads the source of every class Janino compiles (the
  * CodeGenerator debug log) and fails when the second pass compiles a
  * source the first pass compiled. Within one pass a source may compile
  * twice: the cache is keyed by the thread's context classloader too, and
  * a whole-stage class compiles once on the driver and once on a task.
  */
class CodegenCacheSpec extends SparkSpec {
  private val sf = Paths.get(PlanGolden.sfDir).resolveSibling("sf0.01").toString

  private val refreshRows: Seq[Query] =
    Seq(Cleaning.queries, Reporting.queries, Goals.queries, LabReports.queries,
      Keys.queries, Composite.queries, Ento.queries)
      .flatMap(_.zipWithIndex.collect { case (q, i) if i % 20 == 0 => q })

  /** Rows that run in a child session: two streams through
    * `Streams.rowSession`, and io05's bucketing session. */
  private val childSessionRows: Seq[Query] = {
    val names = Set("st01_stream_windowed_counts", "st12_stream_drift", "io05_bucketed_join")
    (SinkQueries.queries ++ StreamingQueries.queries).filter(q => names(q.name))
  }

  /** The formatted source of every class compiled while `body` runs. */
  private def compiledDuring(body: => Unit): Seq[String] = {
    val sources = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("codegen-cache-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("/* 001 */")) sources.add(m)
      }
    }
    // a logger config of its own, not additive: the sources stay out of
    // the test log; the previous config, if any, comes back afterwards
    val name = classOf[CodeGenerator[_, _]].getName
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val previous = Option(config.getLoggers.get(name))
    val capture = new LoggerConfig(name, Level.DEBUG, false)
    appender.start()
    capture.addAppender(appender, null, null)
    config.addLogger(name, capture)
    ctx.updateLoggers()
    try body finally {
      config.removeLogger(name)
      previous.foreach(config.addLogger(name, _))
      ctx.updateLoggers()
      appender.stop()
    }
    sources.asScala.toSeq
  }

  /** One pass over `rows`: the sources compiled, checked against the
    * compile count. */
  private def pass(rows: Seq[Query]): Seq[String] = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val sources = compiledDuring(rows.foreach { q =>
      assert(q.fn(spark, sf).collect().nonEmpty, q.name)
      Sessions.clearCaches(spark)
    })
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(sources.length.toLong == compiles, "the debug log missed a compile")
    sources
  }

  /** Fails when a second pass over `rows` compiles a source the first
    * pass compiled. */
  private def assertNoRecompile(rows: Seq[Query]): Unit = {
    // earlier suites in this JVM may have compiled some of these classes
    // already, so the first pass can compile fewer than all of them
    val first = pass(rows).toSet
    val second = pass(rows)
    val again = second.count(first.contains)
    assert(again == 0, s"$again of the second pass's ${second.size} compiles repeat " +
      s"one of the first pass's ${first.size} sources")
  }

  test("a second pass over the report_refresh rows recompiles no class") {
    assert(refreshRows.size == 8)
    assertNoRecompile(refreshRows)
  }

  test("a second run of child-session rows (st01, st12, io05) recompiles no class") {
    assert(childSessionRows.size == 3)
    assertNoRecompile(childSessionRows)
  }
}
