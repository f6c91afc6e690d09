package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Similarity
import graft.operators.Mmr

/** MMR pins: greedy semantics by hand, diversification vs pure top-k,
  * the k=1 / mu=0 degenerate forms, partitioning determinism, and bitwise
  * equivalence with the unrolled reference form below.
  */
class MmrSpec extends SparkSpec {

  /** The unrolled-iteration reference for `Mmr.rerank`: all query groups
    * advance through the k greedy rounds together — each round one
    * anti-join (drop picked), one join onto the selected set keyed by
    * query id, one max-aggregate, one per-query argmax, localCheckpoint-ed
    * per round. Plain DataFrame operators, so it states the greedy
    * semantics independently of the in-task fold.
    */
  private def rerankUnrolled(cand: DataFrame, k: Int, lam: Double,
                             mu: Double): DataFrame = {
    val pick1 = Window.partitionBy("qid").orderBy(col("rel").desc, col("cid"))
    var sel = cand
      .withColumn("rn", row_number().over(pick1)).filter(col("rn") === 1)
      .select(col("qid"), col("cid"), col("c_emb"), col("c_norm"),
        col("rel").as("score"), lit(1).as("rank"))
      .localCheckpoint()
    for (r <- 2 to k) {
      val remaining = cand.join(sel.select("qid", "cid"), Seq("qid", "cid"), "left_anti")
      val ms = remaining
        .join(sel.select(col("qid"), col("c_emb").as("s_emb"),
          col("c_norm").as("s_norm")), Seq("qid"))
        .withColumn("s",
          Similarity.dot(col("c_emb"), col("s_emb")) / (col("c_norm") * col("s_norm")))
        .groupBy("qid", "cid").agg(max("s").as("ms"))
      val scored = remaining.join(ms, Seq("qid", "cid"))
        .withColumn("score", lit(lam) * col("rel") - lit(mu) * col("ms"))
      val pick = Window.partitionBy("qid").orderBy(col("score").desc, col("cid"))
      sel = sel.unionByName(
          scored.withColumn("rn", row_number().over(pick)).filter(col("rn") === 1)
            .select(col("qid"), col("cid"), col("c_emb"), col("c_norm"),
              col("score"), lit(r).as("rank")))
        .localCheckpoint()
    }
    sel.select(col("qid"), col("rank"), col("cid"), col("score"))
  }

  /** (qid, rank, cid, raw score bits), ordered — bitwise comparison form. */
  private def bits(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
      .sortBy(t => (t._1, t._2)).toSeq

  // one query (qid 0), unit vectors: c1 = e_x (rel 1.0), c2 ~ e_x
  // near-duplicate (rel 0.98), c3 = e_y orthogonal (rel 0.10)
  private def cand() = {
    val sess = spark; import sess.implicits._
    Seq(
      (0L, 1L, Array(1f, 0f), 1.0, 1.0),
      (0L, 2L, Array(1f, 0f), 1.0, 0.98),
      (0L, 3L, Array(0f, 1f), 1.0, 0.10))
      .toDF("qid", "cid", "c_emb", "c_norm", "rel")
  }

  private def ranks(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("qid", "rank").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"), r.getAs[Long]("cid")))

  test("mmr picks the diverse candidate over the redundant higher-rel one") {
    // round 2 with lam .3/mu .7: c2 scores .3*.98-.7*1 < 0, c3 scores .3*.1
    val got = ranks(Mmr.rerank(cand(), k = 3, lam = 0.3, mu = 0.7))
    assert(got.toSeq == Seq((0L, 1, 1L), (0L, 2, 3L), (0L, 3, 2L)),
      s"redundant near-dup must sink below the orthogonal doc, got ${got.toSeq}")
  }

  test("k = 1 is pure argmax relevance; mu = 0 is relevance order") {
    assert(ranks(Mmr.rerank(cand(), k = 1, lam = 0.3, mu = 0.7)).toSeq ==
      Seq((0L, 1, 1L)))
    assert(ranks(Mmr.rerank(cand(), k = 3, lam = 1.0, mu = 0.0)).toSeq ==
      Seq((0L, 1, 1L), (0L, 2, 2L), (0L, 3, 3L)),
      "mu = 0 must reduce to descending-relevance order")
  }

  test("round-1 score is the raw relevance; later scores subtract redundancy") {
    val out = Mmr.rerank(cand(), k = 2, lam = 0.3, mu = 0.7)
      .collect().map(r => r.getAs[Int]("rank") -> r.getAs[Double]("score")).toMap
    assert(out(1) == 1.0)
    assert(math.abs(out(2) - (0.3 * 0.10 - 0.7 * 0.0)) < 1e-12)
  }

  test("queries advance independently and results are partitioning-stable") {
    val sess = spark; import sess.implicits._
    val two = cand().unionByName(Seq(
      (7L, 9L, Array(0f, 1f), 1.0, 0.5),
      (7L, 8L, Array(1f, 0f), 1.0, 0.4)).toDF("qid", "cid", "c_emb", "c_norm", "rel"))
    val a = ranks(Mmr.rerank(two.repartition(1), k = 2, lam = 0.3, mu = 0.7))
    val b = ranks(Mmr.rerank(two.repartition(13), k = 2, lam = 0.3, mu = 0.7))
    assert(a.toSeq == b.toSeq)
    assert(a.count(_._1 == 7L) == 2 && a.filter(_._1 == 7L).head._3 == 9L)
  }

  test("single-pass greedy fold is bitwise-identical to the unrolled form") {
    // deterministic pseudo-random fixture: 3 queries x 40 candidates of
    // 8-dim embeddings — large enough that picks genuinely depend on the
    // redundancy term, including duplicate vectors (sim exactly 1.0 ties)
    val sess = spark; import sess.implicits._
    def emb(q: Long, c: Long): Array[Float] =
      Array.tabulate(8)(i => (((q * 131 + c * 37 + i * 17) % 23) - 11).toFloat)
    val rows = for (q <- 0L until 3L; c <- 0L until 40L) yield {
      val e = if (c % 7 == 0) emb(q, 1L) else emb(q, c) // planted duplicates
      val nrm = math.sqrt(e.map(x => x.toDouble * x).sum)
      val rel = ((q * 7 + c * 13) % 19).toDouble / 19.0
      (q, c, e, nrm, rel)
    }
    val cand = rows.toDF("qid", "cid", "c_emb", "c_norm", "rel")
    // bitwise: compare raw long bits of the scores, not an epsilon
    val fast = bits(Mmr.rerank(cand, k = 5, lam = 0.7, mu = 0.3))
    assert(fast.length == 15)
    assert(fast == bits(rerankUnrolled(cand, k = 5, lam = 0.7, mu = 0.3)))
  }

  test("zero similarities of either sign leave the unrolled max's score bits") {
    // c3 is orthogonal to both picks, so both its similarities are zero
    // dot products whose signs come from the norms: query 0 sees -0.0
    // (0.0 / (-1 * 1)) then +0.0 (0.0 / (-1 * -1)), query 1 the reverse.
    // With rel = -0.0 the round-3 score -0.0 - 0.3 * ms carries ms's sign
    // bit. Spark's max() keeps the FIRST of two equal values, so the
    // reference reads -0.0 for query 0 and 0.0 for query 1; a fold that
    // normalized ms to +0.0 would flip query 0's score to -0.0.
    val sess = spark; import sess.implicits._
    val cand = Seq(
      (0L, 1L, Array(1f, 0f), 1.0, 1.0),
      (0L, 2L, Array(1f, 0f), -1.0, 0.5),
      (0L, 3L, Array(0f, 1f), -1.0, -0.0),
      (1L, 1L, Array(1f, 0f), 1.0, 1.0),
      (1L, 2L, Array(1f, 0f), -1.0, 0.5),
      (1L, 3L, Array(0f, 1f), 1.0, -0.0))
      .toDF("qid", "cid", "c_emb", "c_norm", "rel")
    val fast = bits(Mmr.rerank(cand, k = 3, lam = 0.7, mu = 0.3))
    assert(fast.map(_._3) == Seq(1L, 2L, 3L, 1L, 2L, 3L))
    assert(fast == bits(rerankUnrolled(cand, k = 3, lam = 0.7, mu = 0.3)))
    val bit0 = java.lang.Double.doubleToRawLongBits(0.0)
    val bitNeg0 = java.lang.Double.doubleToRawLongBits(-0.0)
    assert(fast(2)._4 == bit0 && fast(5)._4 == bitNeg0)
  }

  test("int-keyed candidates keep IntegerType qid/cid and the long-keyed picks") {
    val sess = spark; import sess.implicits._
    val long = cand().unionByName(Seq(
      (7L, 9L, Array(0f, 1f), 1.0, 0.5),
      (7L, 8L, Array(1f, 0f), 1.0, 0.4)).toDF("qid", "cid", "c_emb", "c_norm", "rel"))
    val int = long.withColumn("qid", col("qid").cast("int"))
      .withColumn("cid", col("cid").cast("int"))
    val out = Mmr.rerank(int, k = 3, lam = 0.3, mu = 0.7)
    import org.apache.spark.sql.types.IntegerType
    assert(out.schema("qid").dataType == IntegerType)
    assert(out.schema("cid").dataType == IntegerType)
    val widened = out.withColumn("qid", col("qid").cast("long"))
      .withColumn("cid", col("cid").cast("long"))
    assert(bits(widened) == bits(Mmr.rerank(long, k = 3, lam = 0.3, mu = 0.7)))
  }
}
