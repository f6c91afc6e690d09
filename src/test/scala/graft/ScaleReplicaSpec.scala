package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** ScaleReplica's reading of one row: an empty run on the replica is a
  * failure, not a fast time, when the row reads rows on the dataset the
  * replica copies. */
class ScaleReplicaSpec extends SparkSpec {
  private val replica = "replica_dir"
  private val base = "base_dir"

  /** A row that reads `onReplica` rows on the replica and 3 on the base. */
  private def row(onReplica: Long): (SparkSession, String) => DataFrame =
    (s, dir) => s.range(if (dir == replica) onReplica else 3L).toDF()

  test("a row that reads rows on the replica passes") {
    assert(ScaleReplica.runRow(spark, "full", row(5), replica, base))
  }

  test("a row that reads nothing on the replica but rows on the base fails") {
    assert(!ScaleReplica.runRow(spark, "empty", row(0), replica, base))
  }

  test("a row that reads nothing on either dataset passes") {
    val none: (SparkSession, String) => DataFrame = (s, _) => s.range(0).toDF()
    assert(ScaleReplica.runRow(spark, "none", none, replica, base))
  }

  test("a row that throws fails") {
    val boom: (SparkSession, String) => DataFrame = (_, _) => sys.error("boom")
    assert(!ScaleReplica.runRow(spark, "boom", boom, replica, base))
  }
}
