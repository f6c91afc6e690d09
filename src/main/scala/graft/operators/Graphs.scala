package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Materialize

/** Iterative graph decomposition operators (the g10/g13 family:
  * fixed-round Pregel-style join+agg loops over an edge table).
  *
  * Scale posture shared with pagerank/triangles: every round is one
  * degree aggregate plus one semi-join back onto the edges, both keyed
  * on node id (shuffle-partitionable, no driver state); each round's
  * edge set is a Materialize.pin, so round r+1 reads held blocks
  * instead of the whole lineage (the "vals name plans, not results"
  * rule — without the cut the plan doubles per round).
  */
object Graphs {

  /** k-core peeling: repeatedly drop nodes with degree < k (and their
    * edges) for up to `rounds` rounds, then return each surviving
    * node's degree within the surviving subgraph.
    *
    * Semantics are FIXED-ROUND (the g10 unrolled-iteration contract, so
    * a SQL oracle can replay them exactly): if the peel reaches a fixed
    * point early, remaining rounds are identities — the early-exit
    * below is therefore unobservable in the result (each round's edge
    * set is a subset of the previous, so equal COUNT implies equal
    * set). True k-core = run with `rounds` >= the peel depth; the spec
    * pins that the registry's 5 rounds reach the fixed point on the
    * test graph.
    *
    * `edges` must be an undirected edge list with columns (x, y), one
    * row per edge, no duplicates, x != y.
    */
  def kCorePeel(edges: DataFrame, k: Long, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var e = Materialize.pin(edges.select("x", "y"))
    var n = e.count()
    var converged = false
    var r = 0
    while (r < rounds && !converged) {
      val deg = e.select(col("x").as("node"))
        .unionAll(e.select(col("y").as("node")))
        .groupBy("node").agg(count(lit(1)).as("dg"))
      val keep = deg.filter(col("dg") >= k).select("node")
      val e2 = Materialize.pin(e
        .join(keep.withColumnRenamed("node", "kx"), col("x") === col("kx"))
        .join(keep.withColumnRenamed("node", "ky"), col("y") === col("ky"))
        .select("x", "y"))
      val n2 = e2.count()
      converged = n2 == n // e2 is a subset of e: equal count == equal set
      e = e2
      n = n2
      r += 1
    }
    e.select(col("x").as("node")).unionAll(e.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).cast("long").as("core_deg"))
  }

  /** Multi-source BFS hop distances: dist(v) = min #hops from v to any
    * source node, computed over exactly `rounds` frontier expansions
    * (nodes further than `rounds` hops are absent — the fixed-round
    * contract that lets a SQL oracle unroll the iterations, as in
    * kCorePeel/pagerank). Each round is one join (frontier onto the
    * bidirectional edge list) plus one min-aggregate, both keyed on
    * node id; the running distance table is a Materialize.pin per
    * round to cut replayed lineage.
    *
    * `edges` is an undirected edge list (x, y); `sources` a single
    * column (node).
    */
  def bfsDistances(edges: DataFrame, sources: DataFrame,
                   rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val bi = Materialize.pin(edges.select(col("x").as("s"), col("y").as("t"))
      .unionAll(edges.select(col("y").as("s"), col("x").as("t"))))
    var dist = Materialize.pin(sources.select(col("node"), lit(0L).as("dist")))
    for (_ <- 1 to rounds) {
      val next = bi.join(dist, col("s") === col("node"))
        .select(col("t").as("node"), (col("dist") + 1L).as("dist"))
      dist = Materialize.pin(dist.unionAll(next)
        .groupBy("node").agg(min("dist").as("dist")))
    }
    dist.select(col("node"), col("dist").cast("long").as("dist"))
  }

  /** Synchronous label propagation (Raghavan 2007) for community
    * detection, made deterministic: every node starts labelled with its
    * own id; each round it adopts the label most frequent among its
    * neighbours, ties broken by the SMALLEST label (the classic
    * random-tie-break variant is useless under a cross-engine oracle).
    * Fixed-round contract as kCorePeel/bfsDistances so a SQL oracle can
    * unroll the rounds exactly.
    *
    * Each round: one count-aggregate of neighbour labels keyed on
    * (node, label) plus a per-node argmax — both shuffle on node id, no
    * driver state, label table a Materialize.pin per round.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val bi = Materialize.pin(edges.select(col("x").as("s"), col("y").as("t"))
      .unionAll(edges.select(col("y").as("s"), col("x").as("t"))))
    var lab = Materialize.pin(bi.select(col("s").as("node")).distinct()
      .withColumn("label", col("node")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("s").orderBy(col("c").desc, col("label"))
    for (_ <- 1 to rounds) {
      lab = Materialize.pin(bi.join(lab, col("t") === col("node"))
        .groupBy(col("s"), col("label")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("s").as("node"), col("label")))
    }
    lab.select(col("node"), col("label").cast("long").as("label"))
  }
}
