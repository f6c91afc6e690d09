package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** SparkSessionExtensions wiring (SURVEY §2.10 ladder step c): exposes
  * the native graft expressions to plain-SQL users, so
  * `SELECT dot_product(a, b)` works from spark.sql / JDBC / notebooks
  * without touching the Scala Column API. Activate per session via
  * `.withExtensions(new GraftExtensions)` (done in core.Sessions) or
  * fleet-wide with `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType)   => v.toInt
    case _ => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $e")
  }

  // arguments, examples, note, group, since, deprecated and source stay
  // empty, as the deprecated five-argument constructor left them
  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // portable HOF dot-product folds → native DotProduct kernel
    ext.injectOptimizerRule(_ => DotProductRewrite)
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      info("dot_product",
        "dot_product(a, b) - strict in-order double dot product of two numeric arrays"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "dot_product(a, b) takes 2 arguments")
        DotProduct(args(0), args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("hyperplane_buckets"),
      info("hyperplane_buckets",
        "hyperplane_buckets(vec, tables, bits, dims) - signed-hyperplane LSH sign buckets, one long per table"),
      (args: Seq[Expression]) => {
        require(args.length == 4, "hyperplane_buckets(vec, tables, bits, dims) takes 4 arguments")
        HyperplaneBuckets(args(0),
          intLit(args(1), "hyperplane_buckets", "tables"),
          intLit(args(2), "hyperplane_buckets", "bits"),
          intLit(args(3), "hyperplane_buckets", "dims"))
      }))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      info("jaro_winkler",
        "jaro_winkler(a, b) - Jaro-Winkler similarity (0.1 prefix scale, 0.7 boost threshold; matches DuckDB's jaro_winkler_similarity)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "jaro_winkler(a, b) takes 2 arguments")
        JaroWinkler(args(0), args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("lcs_tokens"),
      info("lcs_tokens",
        "lcs_tokens(a, b) - longest common subsequence length over two token arrays (the ROUGE-L kernel)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "lcs_tokens(a, b) takes 2 arguments")
        LcsTokens(args(0), args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes",
        "shingle_hashes(text, n) - distinct xxhash64 values of the word n-gram shingles"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "shingle_hashes(text, n) takes 2 arguments")
        ShingleHashes(args(0), intLit(args(1), "shingle_hashes", "n"))
      }))
    ext.injectFunction((
      FunctionIdentifier("char_window_hashes"),
      info("char_window_hashes",
        "char_window_hashes(text, width) - distinct xxhash64 values of every width-char window (stride 1)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "char_window_hashes(text, width) takes 2 arguments")
        CharWindowHashes(args(0), intLit(args(1), "char_window_hashes", "width"))
      }))
    ext.injectFunction((
      FunctionIdentifier("winnowing_hashes"),
      info("winnowing_hashes",
        "winnowing_hashes(text, k, w) - distinct winnowing-selected xxhash64 fingerprints (k-byte grams, w-hash windows)"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "winnowing_hashes(text, k, w) takes 3 arguments")
        WinnowingHashes(args(0),
          intLit(args(1), "winnowing_hashes", "k"),
          intLit(args(2), "winnowing_hashes", "w"))
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash_signature"),
      info("minhash_signature",
        "minhash_signature(shingleHash, k) - aggregate: k-minhash signature as array<long>"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "minhash_signature(shingleHash, k) takes 2 arguments")
        MinHashSignature(args(0), intLit(args(1), "minhash_signature", "k"))
          .toAggregateExpression()
      }))
  }
}
