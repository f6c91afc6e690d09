package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Similarity
import graft.core.Materialize

/** IVF (inverted-file) approximate nearest neighbour: partition vectors
  * into cells around seeded sample centroids, probe only the nProbe
  * nearest cells per query, re-rank candidates exactly.
  *
  * Centroids start as a seeded deterministic sample (xxhash64 order).
  * [[trainCentroids]] optionally Lloyd-refines them WITHOUT breaking the
  * engine's partition-independence contract: naive float mean updates
  * depend on aggregation order, so each component is summed as
  * DECIMAL(27,7) — exact, therefore order-independent — and only the
  * final per-cell division returns to floating point. Identical
  * centroids on every run and every input partitioning.
  *
  * Scale notes: cell assignment is a broadcast of the centroid table +
  * two hash aggregates (no sort, no window over the big side); the probe
  * join touches only candidate cells — with C cells and balanced
  * assignment, candidate volume is ~ nProbe/C of the corpus per query.
  */
object Ivf {

  private def dist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double")
      d * d
    }), lit(0.0), (acc, v) => acc + v)

  /** Seeded sample centroids: (cell_id, c_vec). */
  def centroids(vectors: DataFrame, idCol: String, vecCol: String,
                nCells: Int, seed: Long): DataFrame =
    vectors.orderBy(xxhash64(col(idCol), lit(seed)), col(idCol)).limit(nCells)
      .select(col(idCol).as("cell_id"), col(vecCol).as("c_vec"))

  /** Assign every vector to its nearest cell. The centroid set is tiny
    * by construction, so it ships as ONE constant reference matrix
    * (plans.NearestCell — O(1) codegen in nCells×dims, no per-matrix
    * recompile) and the argmin happens in a single narrow projection —
    * no join, no shuffle, no second pass; ties break to the first
    * (lowest-index) centroid. Inputs are finite by contract: NaN
    * distances never win the strict `<` argmin.
    */
  def assign(vectors: DataFrame, cents: DataFrame, idCol: String,
             vecCol: String): DataFrame = {
    val collected = cents.collect()
    assignMat(vectors, idCol, vecCol,
      collected.map(_.getAs[Number]("cell_id").longValue).toSeq,
      collected.map(_.getSeq[Number](1).map(_.doubleValue).toSeq).toSeq)
  }

  private def assignMat(vectors: DataFrame, idCol: String, vecCol: String,
                        ids: Seq[Long], mat: Seq[Seq[Double]]): DataFrame =
    vectors.select(col(idCol), col(vecCol),
      graft.plans.NearestCell(col(vecCol), ids, mat).as("cell_id"))

  /** HOF formulation of [[assignMat]] — the executable semantic spec the
    * native NearestCell expression is pinned against (VectorMathSpec).
    * Not used on the hot path: the typedlit matrix re-compiles codegen
    * per distinct centroid set.
    */
  private[graft] def assignMatHof(vectors: DataFrame, idCol: String,
                                  vecCol: String, ids: Seq[Long],
                                  mat: Seq[Seq[Double]]): DataFrame = {
    val cdists = transform(typedlit(mat), c => dist2(col(vecCol), c))
    vectors.select(col(idCol), col(vecCol),
      element_at(typedlit(ids),
        array_position(cdists, array_min(cdists)).cast("int")).as("cell_id"))
  }

  /** Lloyd-refined centroids, deterministically: `iters` rounds of
    * assign → per-cell mean, each component summed as DECIMAL(27,7) (an
    * exact, order-independent fold — the float sum a naive mean uses
    * changes with partitioning) and divided by the member count as ONE
    * IEEE double division of two exactly-known operands (each side cast
    * to double first; a decimal division's intermediate scale is
    * engine-specific, but a correctly-rounded decimal→double cast plus
    * a double quotient is bit-identical everywhere — what makes the s19
    * oracle twin possible). Empty cells keep their previous centroid.
    * Only k×dim scalars ever reach the driver (the same bound [[assign]]
    * already has), and collecting them each round also cuts the
    * iterative-lineage growth that makes loop round N re-run rounds
    * 1..N-1.
    */
  def trainCentroids(vectors: DataFrame, idCol: String, vecCol: String,
                     nCells: Int, iters: Int, seed: Long = 42L): DataFrame = {
    val vecs = Materialize.shared(vectors.select(col(idCol), col(vecCol)))
    try {
      val init = centroids(vecs, idCol, vecCol, nCells, seed).collect()
        .map(r => (r.getAs[Number]("cell_id").longValue,
          r.getSeq[Number](1).map(_.doubleValue).toSeq)).toSeq
      lloyd(vecs, init, idCol, vecCol, iters)
    } finally Materialize.release(vecs)
  }

  /** Lloyd refinement from a GIVEN centroid table (cell_id, c_vec) —
    * the training half with injectable initial state, mirroring
    * [[searchWithCentroids]]: with deterministic (e.g. table-derived or
    * literal) seeds, the whole training loop replays as chained SQL
    * CTEs and becomes oracle-checkable (s19).
    */
  def trainFromCentroids(vectors: DataFrame, initial: DataFrame,
                         idCol: String, vecCol: String,
                         iters: Int): DataFrame = {
    val init = initial.collect()
      .map(r => (r.getAs[Number]("cell_id").longValue,
        r.getSeq[Number](1).map(_.doubleValue).toSeq)).toSeq
      .sortBy(_._1)
    // every round scans (id, vec): cache the projection for the loop —
    // the iterative-algorithm standard (at cluster scale this is the
    // difference between 1 and `iters` reads of the corpus)
    val vecs = Materialize.shared(vectors.select(col(idCol), col(vecCol)))
    try lloyd(vecs, init, idCol, vecCol, iters)
    finally Materialize.release(vecs)
  }

  private def lloyd(vecs: DataFrame, initial: Seq[(Long, Seq[Double])],
                    idCol: String, vecCol: String, iters: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    var cents = initial
    val dim = cents.head._2.length
    for (_ <- 0 until iters) {
      val assigned = assignMat(vecs, idCol, vecCol,
        cents.map(_._1), cents.map(_._2))
      val sums = (0 until dim).map(i =>
        sum(element_at(col(vecCol), i + 1).cast("decimal(27,7)")).as(s"s$i"))
      val mean = assigned.groupBy("cell_id")
        .agg(count(lit(1)).as("n"), sums: _*)
        .select(col("cell_id"),
          array((0 until dim).map(i =>
            col(s"s$i").cast("double") / col("n").cast("double")): _*).as("c_vec"))
      val updated = mean.collect()
        .map(r => (r.getAs[Number]("cell_id").longValue,
          r.getSeq[Number](1).map(_.doubleValue).toSeq)).toMap
      cents = cents.map { case (id, old) => (id, updated.getOrElse(id, old)) }
    }
    cents.map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("cell_id", "c_vec")
  }

  /** Top-k neighbours for each query vector, probing nProbe cells.
    * Queries: (query_id, q_vec). Output: (query_id, neighbor_id, cos).
    */
  def search(vectors: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, nCells: Int, nProbe: Int, k: Int,
             seed: Long = 42L, trainIters: Int = 0): DataFrame = {
    val cents =
      if (trainIters > 0)
        trainCentroids(vectors, idCol, vecCol, nCells, trainIters, seed)
      else centroids(vectors, idCol, vecCol, nCells, seed)
    searchWithCentroids(vectors, queries, cents, idCol, vecCol, nProbe, k)
  }

  /** Probe + re-rank against a GIVEN centroid table — the search half
    * of [[search]], also usable with externally supplied (e.g. literal)
    * centroids, which is what makes the pipeline oracle-checkable.
    */
  def searchWithCentroids(vectors: DataFrame, queries: DataFrame,
                          cents: DataFrame, idCol: String, vecCol: String,
                          nProbe: Int, k: Int): DataFrame =
    searchAssigned(assign(vectors, cents, idCol, vecCol), queries, cents,
      idCol, vecCol, nProbe, k)

  /** Search against an ALREADY-ASSIGNED index table (idCol, vecCol,
    * cell_id) — the persisted-index path: assignments built once, stored
    * partitioned BY cell, and probed without re-assignment. When
    * `assigned` is a parquet read partitioned by cell_id, the candidate
    * join's broadcast probe side dynamically prunes the scan to the
    * probed cells (the io11 DPP mechanism applied to ANN serving).
    */
  def searchAssigned(assigned: DataFrame, queries: DataFrame,
                     cents: DataFrame, idCol: String, vecCol: String,
                     nProbe: Int, k: Int): DataFrame = {
    // probe cells per query: queries × centroids is tiny — window is fine
    val wq = Window.partitionBy("query_id").orderBy(col("__d"), col("cell_id"))
    val probes = queries.crossJoin(broadcast(cents))
      .withColumn("__d", dist2(col("q_vec"), col("c_vec")))
      .withColumn("__r", row_number().over(wq)).filter(col("__r") <= nProbe)
      .select("query_id", "q_vec", "cell_id")
    val cand = probes.join(assigned, "cell_id")
      .filter(col("query_id") =!= col(idCol))
    val wk = Window.partitionBy("query_id").orderBy(col("cos").desc, col(idCol))
    cand
      .withColumn("cos", Similarity.cosine(col("q_vec"), col(vecCol)))
      .withColumn("__rk", row_number().over(wk)).filter(col("__rk") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("cos"))
  }
}
