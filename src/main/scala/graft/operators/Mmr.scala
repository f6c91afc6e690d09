package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
  * greedily pick k results that balance relevance against redundancy,
  *   score(c) = lam * rel(c) - mu * max_{s in selected} sim(c, s)
  * — the retrieval-diversification step after an ANN candidate fetch
  * (dedup of near-identical passages in a RAG context window).
  *
  * Deterministic by construction: ties break on ascending candidate id,
  * and because rel/sim are the engine's exact-fold cosines, a SQL oracle
  * replaying the same operation order reproduces every pick bitwise.
  * `lam`/`mu` are separate parameters (NOT mu = 1-lam: 1.0 - 0.7 is
  * 0.30000000000000004 in binary — an oracle writing the literal 0.3
  * would diverge).
  *
  * Scale shape: one shuffle keyed by query id, then each query's whole
  * greedy fold runs inside its task — candidate sets are ANN-output-
  * sized (bounded per query), so a group is a few hundred rows and the
  * k rounds are in-memory array sweeps. The round-15 unrolled form
  * (k-1 rounds of anti-join + max-aggregate + per-query argmax, each
  * localCheckpoint-ed) spent its wall on 48 sub-200 ms stages of job
  * scheduling, not on data (StageProfile r16: 2.2 s stage-sum vs 4.5 s
  * wall); the fold is the r15 "Not yet optimized" candidate landed.
  */
object Mmr {

  /** Spark SQL double ordering for the argmax/max folds: NaN sorts
    * ABOVE every non-NaN (nanSafeCompareDoubles) and -0.0 equals 0.0
    * (NormalizeFloatingNumbers applies to sort keys), so the fold
    * replays row_number()/max() decisions bitwise. max() keeps the FIRST
    * of two equal values, so a strict-> update that keeps a stored -0.0
    * against a later 0.0 (and vice versa) matches the aggregate's bits;
    * MmrSpec pins both orders.
    */
  @inline private def cmp(a: Double, b: Double): Int = {
    val x = if (a == 0.0) 0.0 else a
    val y = if (b == 0.0) 0.0 else b
    java.lang.Double.compare(x, y)
  }

  /** Exactly VectorKernel.dot's accumulation: ascending index, one
    * running double — bitwise-identical to the DotProduct expression
    * MmrSpec's unrolled reference evaluates (floats widen exactly to
    * double).
    */
  @inline private def dotD(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** `cand` columns: qid, cid (integral ids), c_emb (the candidate
    * vector, array of float or double), c_norm (its L2 norm), rel
    * (relevance to the query, typically cosine; non-null by contract).
    * Each (qid, cid) pair must appear at most once: the fold treats every
    * input row as its own candidate, so a duplicated pair could be picked
    * in two rounds. Returns (qid, rank, cid, score) with rank 1..k per
    * query, qid and cid in their input types; round 1 is pure relevance
    * (no selected set yet, score = rel).
    */
  def rerank(cand: DataFrame, k: Int, lam: Double, mu: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val sess = cand.sparkSession
    import sess.implicits._
    val picks = cand.select(
        col("qid").cast("long"), col("cid").cast("long"),
        col("c_emb").cast("array<double>"), col("c_norm").cast("double"),
        col("rel").cast("double"))
      .as[(Long, Long, Array[Double], Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        // ascending cid so every strict-> argmax keeps the SMALLEST cid
        // on ties, replaying row_number(... , cid) tie-breaks
        // (groups are non-empty by construction — groupByKey only forms
        // a group from existing rows; no early return inside the closure)
        val arr = it.toArray.sortBy(_._2)
        val n = arr.length
        val take = math.min(k, n)
        val out = new Array[(Long, Int, Long, Double)](take)
        val picked = new Array[Boolean](n)
        // round 1: argmax rel
        var bi = 0
        var i = 1
        while (i < n) { if (cmp(arr(i)._5, arr(bi)._5) > 0) bi = i; i += 1 }
        picked(bi) = true
        out(0) = (qid, 1, arr(bi)._2, arr(bi)._5)
        // ms(j) = max sim(j, selected so far); incremental max over the
        // growing set is bitwise the unrolled form's per-round max("s")
        val ms = Array.fill(n)(Double.NegativeInfinity)
        var last = bi
        var r = 2
        while (r <= take) {
          val sEmb = arr(last)._3
          val sNorm = arr(last)._4
          var best = -1
          var bestScore = 0.0
          var j = 0
          while (j < n) {
            if (!picked(j)) {
              val s = dotD(arr(j)._3, sEmb) / (arr(j)._4 * sNorm)
              if (cmp(s, ms(j)) > 0) ms(j) = s
              val score = lam * arr(j)._5 - mu * ms(j)
              if (best < 0 || cmp(score, bestScore) > 0) { best = j; bestScore = score }
            }
            j += 1
          }
          picked(best) = true
          out(r - 1) = (qid, r, arr(best)._2, bestScore)
          last = best
          r += 1
        }
        out.iterator
      }
      .toDF("qid", "rank", "cid", "score")
    // the fold runs on long ids; hand qid/cid back in the caller's types
    Seq("qid", "cid").map(c => c -> cand.schema(c).dataType)
      .filter(_._2 != LongType)
      .foldLeft(picks) { case (df, (c, t)) => df.withColumn(c, col(c).cast(t)) }
  }
}
