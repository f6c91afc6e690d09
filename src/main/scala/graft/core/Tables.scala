package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Parquet scans: Catalyst pushes filters/column pruning into these reads,
  * so callers should NOT pre-materialize — compose lazily and let the scan
  * read only what the query needs.
  *
  * Schema cache: a parquet read without a declared schema runs a one-task
  * Spark job to read a footer (~75 ms warm, against ~10 ms with
  * `.schema(...)`), and a scheduled refresh reloads the same tables on
  * every row. So `load` keeps, per JVM, the `StructType` Spark inferred
  * the first time and hands it to every later read of the same file.
  *  - Only the schema is cached. Each load still builds a fresh relation
  *    with fresh attribute ids, so self-joins resolve as they always did.
  *  - The entry is keyed by the qualified path and the session's values
  *    of the parquet-to-Spark type-mapping confs (`typeConfs`), not by
  *    the session: child sessions from `newSession()` share it unless
  *    they change one of those confs.
  *  - The entry also records `(name, length, modificationTime)` of every
  *    leaf file under the path, from one Hadoop listing per load. A load
  *    re-infers when that listing differs — a rewritten file or a
  *    rewritten Spark output directory — or when the path cannot be
  *    listed (the uncached read then reports the error).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session confs that change how parquet types map to Spark types. */
  private val typeConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  private final case class SchemaKey(path: String, confs: Seq[Option[String]])
  private final case class Stamp(name: String, length: Long, modified: Long)
  /** One entry per (path, confs): a rewrite replaces it, so the map stays
    * as small as the set of tables read. */
  private val schemas = new ConcurrentHashMap[SchemaKey, (Seq[Stamp], StructType)]()

  /** `spark.read.parquet` of `$sfDir/$name.parquet`, with the schema
    * inferred once per file version and conf set (see the object doc). No
    * lock is held while Spark infers: concurrent first loads each infer
    * the same schema. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val listed = try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val stamps = Seq.newBuilder[Stamp]
      // a listStatus walk, not listFiles: each LocatedFileStatus reads
      // the file's permissions, which without Hadoop native IO starts an
      // `ls -ld` process per file
      def walk(dir: Path): Unit = fs.listStatus(dir).foreach { f =>
        if (f.isDirectory) walk(f.getPath)
        else stamps += Stamp(f.getPath.toString, f.getLen, f.getModificationTime)
      }
      walk(p)
      Some(fs.makeQualified(p).toString -> stamps.result().sortBy(_.name))
    } catch { case _: java.io.IOException => None }
    listed match {
      case None => spark.read.parquet(path)
      case Some((qualified, stamps)) =>
        val key = SchemaKey(qualified, typeConfs.map(spark.conf.getOption))
        Option(schemas.get(key)).filter(_._1 == stamps) match {
          case Some((_, schema)) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            schemas.put(key, (stamps, df.schema))
            df
        }
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** Canonical TimestampType(µs) `ts` whatever the parquet encoding of the
    * events file. TIMESTAMP(NANOS) files (earlier testdata drops) cannot be
    * read natively; sessions set spark.sql.legacy.parquet.nanosAsLong=true so
    * the column arrives as an ns-epoch long, and we integer-truncate to µs —
    * exactly what DuckDB's parquet reader does with the same file, so oracle
    * comparisons agree (`div`, not `/`: ns epoch exceeds 2^53, double
    * division would corrupt the low bits). TIMESTAMP(µs) files arrive
    * natively — as TIMESTAMP_NTZ when not UTC-adjusted; the session TZ is
    * pinned UTC, so the cast to TimestampType is instant-preserving and the
    * downstream column is identical across both encodings.
    */
  def canonTs(schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.Column =
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)")
      case org.apache.spark.sql.types.TimestampNTZType =>
        org.apache.spark.sql.functions.col("ts").cast("timestamp")
      case _ => org.apache.spark.sql.functions.col("ts")
    }

  /** µs-epoch long for the same column under the same encoding rules. */
  def tsMicros(schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.Column =
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        org.apache.spark.sql.functions.expr("ts div 1000")
      case org.apache.spark.sql.types.TimestampNTZType =>
        org.apache.spark.sql.functions.expr("unix_micros(cast(ts as timestamp))")
      case _ => org.apache.spark.sql.functions.expr("unix_micros(ts)")
    }

  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.withColumn("ts", canonTs(raw.schema))
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
