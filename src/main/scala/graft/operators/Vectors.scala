package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Similarity
import graft.core.Materialize

/** Dense-vector corpus operators that are neither top-k search (Ivf/Pq/
  * SimilaritySearch) nor pair dedup (Dedup.embeddingNearDupLsh):
  * threshold RADIUS search for a query set, and centroid drift
  * monitoring between corpus slices.
  */
object Vectors {

  /** Cosine radius (range) search: every corpus vector within cosine
    * `threshold` of any query vector — "find everything similar to
    * these", the retrieval shape where the RESULT SIZE, not k, is the
    * contract (takedown sweeps, dedup-against-blocklist).
    *
    * Scale path: both sides bucket through the same hyperplane LSH as
    * embeddingNearDupLsh, candidates come from the (table, bucket)
    * equi-join — query cost tracks bucket overlap, never |Q| x |corpus|
    * — and oversized corpus buckets drop under `maxBucketSize` (the
    * documented recall valve; the oracle replays the same drop). Exact
    * cosine re-checks every candidate, so no false positives survive.
    *
    * `excludeSelf` (default true) drops candidate pairs whose ids are
    * EQUAL — the self-match filter for the common case where `queries`
    * is a slice of `corpus`. It therefore assumes the two sides share
    * one id space: with DISJOINT id spaces a genuine match whose ids
    * happen to coincide numerically would be dropped — pass
    * `excludeSelf = false` there (self-rows cannot occur anyway).
    */
  def radiusSearchLsh(corpus: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, tables: Int, bits: Int, dims: Int,
                      threshold: Double, maxBucketSize: Int = 0,
                      excludeSelf: Boolean = true): DataFrame = {
    def prep(df: DataFrame, suffix: String) = Materialize.shared(
      df.select(col(idCol).as(s"__id$suffix"), col(vecCol).as(s"__v$suffix"),
        Similarity.l2norm(col(vecCol)).as(s"__n$suffix")))
    def buckets(e: DataFrame, suffix: String) =
      e.select(col(s"__id$suffix"),
        posexplode(Similarity.hyperplaneBuckets(col(s"__v$suffix"),
          tables, bits, dims)).as(Seq("t", "b")))
    val c = prep(corpus, "c")
    val q = prep(queries, "q")
    val cb = {
      val raw = buckets(c, "c")
      if (maxBucketSize <= 0) raw
      else {
        val big = raw.groupBy("t", "b")
          .agg(count(lit(1)).as("__bn")).filter(col("__bn") > maxBucketSize)
          .select("t", "b")
        raw.join(broadcast(big), Seq("t", "b"), "left_anti")
      }
    }
    val paired = buckets(q, "q").join(cb, Seq("t", "b"))
    (if (excludeSelf) paired.filter(col("__idq") =!= col("__idc")) else paired)
      .select("__idq", "__idc").distinct()
      .join(q, "__idq").join(c, "__idc")
      .withColumn("cos",
        Similarity.dot(col("__vq"), col("__vc")) / (col("__nq") * col("__nc")))
      .filter(col("cos") >= threshold)
      .select(col("__idq").as("query_id"), col("__idc").as("match_id"),
        col("cos"))
  }

  /** Centroid drift between two corpus slices (half 0 vs half 1), per
    * label: cosine between the slice centroids and the L2 shift — the
    * embedding-space version of a30's PSI drift monitor (did the
    * distribution move between snapshots / sources?).
    *
    * Determinism: components quantize to micro-units BEFORE the
    * cross-row sum (a float/double sum over rows would be
    * partition-order-dependent), so per-dimension sums are exact
    * BIGINT; the per-label reductions over dims fold in dim order (the
    * a40 recipe). One dimension explode + one (label, dim) hash agg is
    * all the data-sized work.
    *
    * `halfCol` must be 0/1. Labels whose rows all fall in ONE half have
    * no defined drift (a centroid over zero vectors); they are EXCLUDED
    * from the output — the g25 convention of emitting nothing for an
    * undefined statistic, not a null/NaN row. An oracle must replay the
    * same n0 > 0 AND n1 > 0 filter.
    */
  def centroidDrift(df: DataFrame, labelCol: String, halfCol: String,
                    vecCol: String): DataFrame = {
    val counts = df.groupBy(col(labelCol).as("label"))
      .agg(sum(when(col(halfCol) === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col(halfCol) === 1, 1L).otherwise(0L)).as("n1"))
      .filter(col("n0") > 0 && col("n1") > 0)
    val base = df.select(col(labelCol).as("label"), col(halfCol).as("half"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col("label"), col("half"), col("dim"),
        floor(col("v").cast("double") * lit(1000000.0) + lit(0.5))
          .cast("long").as("q"))
    val sums = base.groupBy("label", "dim")
      .agg(sum(when(col("half") === 0, col("q")).otherwise(0L)).as("s0"),
        sum(when(col("half") === 1, col("q")).otherwise(0L)).as("s1"))
    val m = sums.join(broadcast(counts), "label")
      .select(col("label"), col("dim"),
        (col("s0").cast("double") / lit(1000000.0) / col("n0")).as("m0"),
        (col("s1").cast("double") / lit(1000000.0) / col("n1")).as("m1"))
    def fold(term: Column, name: String) = aggregate(
      transform(sort_array(collect_list(struct(col("dim"), term.as("t")))),
        e => e.getField("t")),
      lit(0.0), (acc, v) => acc + v).as(name)
    val f = m.groupBy("label").agg(
      fold(col("m0") * col("m1"), "dt"),
      fold(col("m0") * col("m0"), "s0q"),
      fold(col("m1") * col("m1"), "s1q"),
      fold((col("m0") - col("m1")) * (col("m0") - col("m1")), "l2q"))
    f.join(broadcast(counts), "label")
      .select(col("label"), col("n0"), col("n1"),
        (col("dt") / (sqrt(col("s0q")) * sqrt(col("s1q")))).as("cos_drift"),
        sqrt(col("l2q")).as("l2_shift"))
  }
}
