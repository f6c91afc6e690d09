package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Similarity
import graft.core.Materialize

/** Product-quantization ANN (IVF-PQ's compression half): split each
  * vector into `m` contiguous subspaces, Lloyd-train a small codebook
  * per subspace (reusing [[Ivf.trainCentroids]]'s deterministic
  * DECIMAL-sum k-means), encode every corpus vector as `m` codes, and
  * answer queries by asymmetric distance computation (ADC): a per-query
  * distance table of m×k exact subspace distances, so scoring a
  * candidate is m table lookups instead of a dims-wide float dot.
  * An ADC shortlist is then re-ranked with exact cosine.
  *
  * Scale notes (the reason PQ exists at 100 TB): a 64-dim float vector
  * is 256 bytes; its 8-subspace code is 8 small ints — a ~32× smaller
  * scan, small enough to keep entire shards in executor memory. Encoding
  * is one narrow projection (plans.PqEncode — fused loop, codebook via
  * addReferenceObj so codegen is O(1) in m×k×subDim); the ADC scan
  * broadcasts the (bounded) query side and shuffles only the shortlist;
  * the exact re-rank touches shortlist×queries rows of the full-width
  * corpus. Codebooks are trained on the full input here — at corpus
  * scale train on a deterministic sample (PQ codebooks converge on ~1e5
  * vectors) by pre-filtering the training input, e.g.
  * `vectors.orderBy(xxhash64(id), id).limit(n)`; encoding is unaffected.
  *
  * Determinism: seeded sample init + exact-decimal Lloyd means identical
  * codebooks on any partitioning; PqEncode ties break to the lowest
  * code; ADC/re-rank windows break ties on neighbor id.
  */
object Pq {

  private def dist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double")
      d * d
    }), lit(0.0), (acc, v) => acc + v)

  /** Per-subspace codebooks, (subspace)(codeword 0..k-1)(component).
    * Codeword order is the sorted sample id — stable and
    * partitioning-independent, so codes are reproducible.
    *
    * All m subspaces train TOGETHER: each Lloyd round is one PqEncode
    * projection (every subspace's assignment in a single fused kernel
    * pass), one posexplode to (subspace, code, subvec) — same total
    * bytes as the input, since the subvectors partition the vector —
    * and one groupBy(subspace, code) with exact DECIMAL(27,7) component
    * sums. One shuffle per round for ALL codebooks, where per-subspace
    * training would rescan the corpus m times per round. The mean
    * update replicates [[Ivf.trainCentroids]] exactly (same
    * double-quotient mean of the exact decimal sum, empty cells keep
    * their previous codeword), so the result is bit-identical to the
    * per-subspace form (PqSpec).
    */
  def trainCodebooks(vectors: DataFrame, idCol: String, vecCol: String,
                     m: Int, k: Int, iters: Int,
                     seed: Long = 42L): Seq[Seq[Seq[Double]]] = {
    val dims = vectors.select(size(col(vecCol))).head().getInt(0)
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val subDim = dims / m
    val vecs = Materialize.shared(vectors.select(col(idCol), col(vecCol)))
    try {
      // seeded sample init — the same k rows every per-subspace Lloyd
      // would draw (the hash orders by id only), kept in hash order
      // during training so codeword indexes match the per-subspace run
      val sample = vecs
        .orderBy(xxhash64(col(idCol), lit(seed)), col(idCol)).limit(k)
        .select(col(idCol), col(vecCol)).collect()
        .map(r => (r.getAs[Number](0).longValue,
          r.getSeq[Number](1).map(_.doubleValue).toArray))
      // books(s)(c) — codeword c of subspace s, c in sample-hash order
      var books: Seq[Seq[Seq[Double]]] = (0 until m).map(s =>
        sample.toSeq.map(_._2.slice(s * subDim, (s + 1) * subDim).toSeq))
      for (_ <- 0 until iters) {
        val sums = (0 until subDim).map(j =>
          sum(element_at(col("subvec"), j + 1).cast("decimal(27,7)")).as(s"s$j"))
        val upd = vecs
          .select(col(vecCol),
            posexplode(graft.plans.PqEncode(col(vecCol), books))
              .as(Seq("s", "c")))
          .select(col("s"), col("c"),
            slice(col(vecCol), col("s") * subDim + 1, lit(subDim)).as("subvec"))
          .groupBy("s", "c")
          .agg(count(lit(1)).as("n"), sums: _*)
          .select(col("s"), col("c"),
            array((0 until subDim).map(j =>
              col(s"s$j").cast("double") / col("n").cast("double")): _*).as("cw"))
          .collect()
          .map(r => (r.getAs[Number]("s").intValue,
            r.getAs[Number]("c").intValue) ->
            r.getSeq[Number](2).map(_.doubleValue).toSeq).toMap
        books = (0 until m).map(s => (0 until k).map(c =>
          upd.getOrElse((s, c), books(s)(c))))
      }
      // expose codewords in sorted-sample-id order, rounded through
      // float like Ivf.trainCentroids's public output — keeps this
      // bit-identical to the per-subspace reference formulation
      val perm = sample.map(_._1).zipWithIndex.sortBy(_._1).map(_._2)
      books.map(b => perm.toSeq.map(c => b(c).map(_.toFloat.toDouble)))
    } finally Materialize.release(vecs)
  }

  /** Reference formulation — one [[Ivf.trainCentroids]] per subspace.
    * Not on the hot path (m corpus scans per Lloyd round); kept as the
    * executable spec the fused [[trainCodebooks]] is pinned against.
    */
  private[graft] def trainCodebooksPerSubspace(
      vectors: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int, seed: Long = 42L): Seq[Seq[Seq[Double]]] = {
    val dims = vectors.select(size(col(vecCol))).head().getInt(0)
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val subDim = dims / m
    (0 until m).map { s =>
      val sub = vectors.select(col(idCol),
        slice(col(vecCol), s * subDim + 1, subDim).as(vecCol))
      Ivf.trainCentroids(sub, idCol, vecCol, k, iters, seed)
        .collect()
        .sortBy(_.getAs[Number]("cell_id").longValue)
        .map(_.getSeq[Number](1).map(_.doubleValue).toSeq)
        .toSeq
    }
  }

  /** (id, codes array<long>) — one fused-kernel projection, no shuffle. */
  def encode(vectors: DataFrame, idCol: String, vecCol: String,
             books: Seq[Seq[Seq[Double]]]): DataFrame =
    vectors.select(col(idCol),
      graft.plans.PqEncode(col(vecCol), books).as("codes"))

  /** Residual IVF-PQ (the FAISS IVFPQ shape): a coarse quantizer
    * partitions the corpus into cells, PQ codebooks are trained on the
    * RESIDUALS (vec − cell centroid) — residual energy is much lower
    * than raw-vector energy, so the same code budget quantizes finer —
    * and a query probes only its `nProbe` nearest cells, ADC-scanning
    * the (cell-local) codes with a distance table built from the
    * query's OWN residual against that cell. Shortlist, then exact
    * cosine re-rank on the shortlist only.
    *
    * Scale: the probe join touches ~nProbe/nCells of the codes
    * projection (itself ~32x narrower than the embeddings); the
    * (query × probed-cell) side carrying the distance tables is
    * broadcast; full-width vectors are read only for the shortlist.
    */
  def searchIvf(vectors: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, nCells: Int, nProbe: Int, m: Int, k: Int,
                itersCoarse: Int, itersPq: Int, shortlist: Int, topK: Int,
                seed: Long = 42L): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val cents = Ivf
      .trainCentroids(vectors, idCol, vecCol, nCells, itersCoarse, seed)
      .collect()
      .map(r => (r.getAs[Number]("cell_id").longValue,
        r.getSeq[Number](1).map(_.doubleValue).toSeq)).toSeq
    val centsDf = cents.toDF("cell_id", "c_vec")
    val assigned = residuals(vectors, centsDf, idCol, vecCol)
    val books = trainCodebooks(assigned, idCol, "__res", m, k, itersPq, seed)
    searchResiduals(vectors, queries, centsDf, books, assigned, idCol,
      vecCol, nProbe, shortlist, topK)
  }

  /** Residual IVF-PQ search against GIVEN coarse centroids and residual
    * codebooks — the search half of [[searchIvf]] with injectable state,
    * mirroring [[Ivf.searchWithCentroids]]/[[searchWithBooks]]: with
    * literal state the whole composed pipeline (assignment, residuals,
    * encode, probe, per-cell distance tables, ADC, re-rank) replays in
    * SQL and becomes oracle-checkable (training stays s14's job).
    */
  def searchIvfWithState(vectors: DataFrame, queries: DataFrame,
                         cents: Seq[(Long, Seq[Double])],
                         books: Seq[Seq[Seq[Double]]], idCol: String,
                         vecCol: String, nProbe: Int, shortlist: Int,
                         topK: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val centsDf = cents.toDF("cell_id", "c_vec")
    val assigned = residuals(vectors, centsDf, idCol, vecCol)
    searchResiduals(vectors, queries, centsDf, books, assigned, idCol,
      vecCol, nProbe, shortlist, topK)
  }

  private def resid(v: Column, c: Column): Column =
    zip_with(v, c, (x, y) => x.cast("double") - y.cast("double"))

  /** (id, cell_id, __res): narrow assign projection + broadcast
    * centroid dim — each vector's residual against its own cell. */
  private def residuals(vectors: DataFrame, centsDf: DataFrame,
                        idCol: String, vecCol: String): DataFrame =
    Ivf.assign(vectors, centsDf, idCol, vecCol)
      .join(broadcast(centsDf), "cell_id")
      .select(col(idCol), col("cell_id"),
        resid(col(vecCol), col("c_vec")).as("__res"))

  private def searchResiduals(vectors: DataFrame, queries: DataFrame,
                              centsDf: DataFrame, books: Seq[Seq[Seq[Double]]],
                              assigned: DataFrame, idCol: String,
                              vecCol: String, nProbe: Int, shortlist: Int,
                              topK: Int): DataFrame = {
    val m = books.length
    val subDim = books.head.head.length
    val codes = assigned.select(col(idCol), col("cell_id"),
      graft.plans.PqEncode(col("__res"), books).as("codes"))
    // probes: per query its nProbe nearest cells, each with a distance
    // table over the query's residual in THAT cell's frame
    val wq = Window.partitionBy("query_id").orderBy(col("__d"), col("cell_id"))
    val dtable = array((0 until m).map { s =>
      val qsub = slice(col("__qres"), s * subDim + 1, subDim)
      transform(typedlit(books(s)), cw => dist2(qsub, cw))
    }: _*)
    val probes = queries.crossJoin(broadcast(centsDf))
      .withColumn("__d", dist2(col("q_vec"), col("c_vec")))
      .withColumn("__r", row_number().over(wq)).filter(col("__r") <= nProbe)
      .withColumn("__qres", resid(col("q_vec"), col("c_vec")))
      .select(col("query_id"), col("q_vec"), col("cell_id"),
        dtable.as("dtable"))
    val adc = aggregate(
      zip_with(col("codes"), col("dtable"),
        (c, t) => element_at(t, (c + 1).cast("int"))),
      lit(0.0), (acc, v) => acc + v)
    val ws = Window.partitionBy("query_id").orderBy(col("adc"), col(idCol))
    val short = codes.join(broadcast(probes), Seq("cell_id"))
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("adc", adc)
      .withColumn("__r", row_number().over(ws)).filter(col("__r") <= shortlist)
      .select(col("query_id"), col("q_vec"), col(idCol))
    val wk = Window.partitionBy("query_id").orderBy(col("cos").desc, col(idCol))
    short.join(vectors.select(col(idCol), col(vecCol)), idCol)
      .withColumn("cos", Similarity.cosine(col("q_vec"), col(vecCol)))
      .withColumn("__rk", row_number().over(wk)).filter(col("__rk") <= topK)
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("cos"))
  }

  /** Top-k neighbours per query by PQ-ADC shortlist + exact cosine
    * re-rank. Queries: (query_id, q_vec). Output: (query_id,
    * neighbor_id, cos).
    */
  def search(vectors: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, m: Int, k: Int, iters: Int, shortlist: Int,
             topK: Int, seed: Long = 42L): DataFrame = {
    val books = trainCodebooks(vectors, idCol, vecCol, m, k, iters, seed)
    searchWithBooks(vectors, queries, books, idCol, vecCol, shortlist, topK)
  }

  /** ADC scan + re-rank against GIVEN codebooks — the search half of
    * [[search]], also usable with externally supplied (e.g. literal)
    * codebooks, which is what makes the pipeline oracle-checkable
    * (training is the part with no SQL oracle).
    */
  def searchWithBooks(vectors: DataFrame, queries: DataFrame,
                      books: Seq[Seq[Seq[Double]]], idCol: String,
                      vecCol: String, shortlist: Int, topK: Int): DataFrame = {
    val m = books.length
    val subDim = books.head.head.length
    val codes = encode(vectors, idCol, vecCol, books)
    // per-query ADC table: dtable[s][c] = ||q_sub(s) - codeword(s,c)||².
    // The codebook is a literal here (one codegen per search call — this
    // side is the bounded broadcast query set, not the corpus scan).
    val dtable = array((0 until m).map { s =>
      val qsub = slice(col("q_vec"), s * subDim + 1, subDim)
      transform(typedlit(books(s)), cw => dist2(qsub, cw))
    }: _*)
    val qdt = queries.select(col("query_id"), col("q_vec"),
      dtable.as("dtable"))
    // ADC scan: m lookups per (candidate, query) pair over the narrow
    // codes projection — the full-width corpus is never in this join
    val adc = aggregate(
      zip_with(col("codes"), col("dtable"),
        (c, t) => element_at(t, (c + 1).cast("int"))),
      lit(0.0), (acc, v) => acc + v)
    val ws = Window.partitionBy("query_id").orderBy(col("adc"), col(idCol))
    val short = codes.crossJoin(broadcast(qdt))
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("adc", adc)
      .withColumn("__r", row_number().over(ws)).filter(col("__r") <= shortlist)
      .select(col("query_id"), col("q_vec"), col(idCol))
    // exact re-rank of the shortlist only
    val wk = Window.partitionBy("query_id").orderBy(col("cos").desc, col(idCol))
    short.join(vectors.select(col(idCol), col(vecCol)), idCol)
      .withColumn("cos", Similarity.cosine(col("q_vec"), col(vecCol)))
      .withColumn("__rk", row_number().over(wk)).filter(col("__rk") <= topK)
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("cos"))
  }
}
