package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.operators.Resolution

class ResolutionSpec extends SparkSpec {

  private def data = df(
    """SELECT * FROM VALUES
      |  ('r1', 10, 'x'), ('r2', 20, 'y'), ('r3', 30, 'z')
      |  t(key, amount, tag)""".stripMargin)

  private def resolution = df(
    """SELECT * FROM VALUES
      |  ('r2', CAST(NULL AS STRING), CAST(NULL AS STRING), 'DELETE'),
      |  ('r1', 'amount', '99', 'SET'),
      |  ('r3', 'tag', 'fixed', 'SET'),
      |  ('r9', 'amount', '1', 'SET')
      |  t(key, column, setTo, operation)""".stripMargin)

  test("applyDeletes drops listed keys") {
    val out = Resolution.applyDeletes(data, resolution, "key")
    assert(rows(out.select("key")) == Set(Seq("r1"), Seq("r3")))
  }

  test("applySets overwrites with cast to existing dtype; unmatched rows untouched") {
    val out = Resolution.applySets(data, resolution, "key")
    assert(out.schema("amount").dataType.typeName == "integer")
    assert(rows(out) == Set(
      Seq("r1", 99, "x"), Seq("r2", 20, "y"), Seq("r3", 30, "fixed")))
  }

  test("applyResolution deletes before sets") {
    val out = Resolution.applyResolution(data, resolution, "key")
    assert(rows(out) == Set(Seq("r1", 99, "x"), Seq("r3", 30, "fixed")))
  }

  test("malformed SET value degrades to the data value, not an ANSI error") {
    // one bad human-authored sheet row must not crash the job: 'abc'
    // onto the int column try_casts to null → coalesce keeps 10
    val res = df(
      """SELECT * FROM VALUES ('r1', 'amount', 'abc', 'SET'),
        |  ('r3', 'amount', '77', 'SET') t(key, column, setTo, operation)""".stripMargin)
    val out = Resolution.applySets(data, res, "key")
    assert(rows(out) == Set(
      Seq("r1", 10, "x"), Seq("r2", 20, "y"), Seq("r3", 77, "z")))
  }

  test("applySets ignores resolution columns absent from the data") {
    val res = df("SELECT 'r1' AS key, 'nope' AS column, 'v' AS setTo, 'SET' AS operation")
    assert(rows(Resolution.applySets(data, res, "key")) == rows(data))
  }

  test("repeat-level resolution: key composed from OdkKeys parse parts") {
    import graft.operators.OdkKeys
    // child rows keyed by (PARENT_KEY, repeat_name, repeat_key) — the
    // reference's repeat-row fix addressing
    val child = df(
      """SELECT * FROM VALUES
        |  ('uuid:p1/rep_ind[1]', 'uuid:p1', 'keep'),
        |  ('uuid:p1/rep_ind[2]', 'uuid:p1', 'kill'),
        |  ('uuid:p2/rep_ind[1]', 'uuid:p2', 'fixme')
        |  t(KEY, PARENT_KEY, payload)""".stripMargin)
      .withColumn("__rkey", concat_ws("|", col("PARENT_KEY"),
        graft.operators.OdkKeys.repeatName(col("KEY")),
        graft.operators.OdkKeys.repeatKey(col("KEY"))))
    val res = df(
      """SELECT * FROM VALUES
        |  ('uuid:p1|rep_ind|2', CAST(NULL AS STRING), CAST(NULL AS STRING), 'DELETE'),
        |  ('uuid:p2|rep_ind|1', 'payload', 'fixed', 'SET')
        |  t(key, column, setTo, operation)""".stripMargin)
    val out = Resolution.applyResolution(child, res, "__rkey").drop("__rkey")
    assert(rows(out.select("KEY", "payload")) == Set(
      Seq("uuid:p1/rep_ind[1]", "keep"),
      Seq("uuid:p2/rep_ind[1]", "fixed")))
  }

  test("cascadeExpand copies SETs to connected columns with rewrite") {
    val res = df("SELECT 'r1' AS key, 'status' AS column, 'refused' AS setTo, 'SET' AS operation")
    val out = Resolution.cascadeExpand(res,
      mapping = Seq("status" -> "status_reason"),
      rewrite = Map(("status_reason", "refused") -> "manual_refusal"))
    assert(rows(out.select("column", "setTo")) ==
      Set(Seq("status", "refused"), Seq("status_reason", "manual_refusal")))
    // the mapping table is a local relation, not an RDD scan that reads
    // like a Materialize.pin in a plan
    assert(out.queryExecution.analyzed.collect { case l: LogicalRDD => l }.isEmpty)
  }
}
