package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (local iteration only — the driver passes 2):
    // comma-separated name prefixes; only matching queries are run. The
    // oracle dump is never filtered, so a prefix matching no row dumps
    // every oracle and runs nothing.
    val only: String => Boolean =
      if (args.length > 2) { val ps = args(2).split(',').toSeq
                             n => ps.exists(n.startsWith) }
      else _ => true
    new java.io.File(outDir).mkdirs()
    // the oracle text needs no Spark job: write it before the session
    // starts, so it costs nothing beyond building the registry
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql))
    val rows = SparkEntry.queries.toSeq.filter(q => only(q._1))
    if (rows.isEmpty) return
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.Sessions.local(cpus, "graft-verify")
    // ERROR, as the other mains: four concurrent rows' WARN lines would
    // otherwise bury the failure lines in the captured tail
    spark.sparkContext.setLogLevel("ERROR")
    // queries are independent: run 4 concurrently (Spark schedules
    // concurrent jobs from separate threads safely) to cut gate latency
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = rows.map { case (name, fn) =>
      scala.concurrent.Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    spark.stop()
  }

  /** `m` as one JSON object. Strings escape backslash, quote and ALL
    * control chars (<0x20): a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness. */
  private[graft] def oracleJson(m: Map[String, String]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
