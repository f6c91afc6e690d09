package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-per-JVM test session (forked sbt test JVM). */
object TestSession {
  lazy val spark: SparkSession = graft.core.Sessions.local("4", "graft-test")
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = TestSession.spark
  def sqlc = spark.sqlContext
  import scala.jdk.CollectionConverters._

  /** Build a DataFrame from a SQL VALUES-ish literal for terse fixtures. */
  def df(sql: String): DataFrame = spark.sql(sql)

  def rows(d: DataFrame): Set[Seq[Any]] =
    d.collect().map(_.toSeq).toSet

  def sortedRows(d: DataFrame): Seq[Seq[Any]] =
    d.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  /** The streaming checkpoint dirs (Streams.runAvailableNow's `st_ckpt_*`)
    * under TempDirs' root right now. Other JVMs may share the root, so
    * callers compare against a set taken before.
    */
  def ckptDirs(): Set[java.nio.file.Path] =
    graft.core.Fs.listDir(graft.core.TempDirs.root)
      .filter(_.getFileName.toString.startsWith("st_ckpt_")).toSet
}
