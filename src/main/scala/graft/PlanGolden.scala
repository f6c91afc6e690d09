package graft

import graft.core.Query

/** Regenerates the per-query exchange-count golden that RegistrySweepSpec
  * asserts against. Run after deliberately changing a query's plan shape;
  * it writes the file itself (stdout would also capture sbt's banner):
  *
  *   sbt "runMain graft.PlanGolden [out]"   # default: the golden below
  *
  * Streaming rows (StreamingQueries) are excluded: their fn launches a
  * stream rather than returning a lazy plan.
  */
object PlanGolden {
  val sfDir = "/root/testdata/sf0.001"
  val goldenPath = "src/test/resources/plan_exchanges.golden"

  def exchangeCount(plan: String): Int =
    "Exchange".r.findAllIn(plan).size

  private lazy val streaming: Set[String] =
    graft.queries.StreamingQueries.queries.map(_.name).toSet

  def isBatch(q: Query): Boolean = !streaming(q.name)

  /** One row's physical plan at the session's current settings, built
    * from clear caches so it reflects only THIS query's plan. Queries
    * persist() intermediates and the CacheManager is JVM-shared: a
    * subtree already cached by an earlier query (or an earlier suite)
    * would substitute InMemoryRelations whose stored build plans
    * re-count their inner exchanges.
    */
  def plan(spark: org.apache.spark.sql.SparkSession, q: Query): String = {
    graft.core.Sessions.clearCaches(spark)
    q.fn(spark, sfDir).queryExecution.executedPlan.toString
  }

  def main(args: Array[String]): Unit = {
    // "4" to MATCH TestSession exactly: Par.fanOut's identity-vs-
    // repartition choice reads defaultParallelism, so a golden generated
    // at a different core count records different exchange counts than
    // RegistrySweepSpec observes live (the round-15 tests_ok failure).
    // Regenerate only under local[4].
    val spark = graft.core.Sessions.local("4", "graft-plangolden")
    val lines = SparkEntry.packs.filter(isBatch)
      .map(q => q.name -> exchangeCount(plan(spark, q)))
      .sortBy(_._1).map { case (n, c) => s"$n $c\n" }
    spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      args.headOption.getOrElse(goldenPath)), lines.mkString)
  }
}
