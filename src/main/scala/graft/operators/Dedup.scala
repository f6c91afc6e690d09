package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Similarity, TextFunctions}
import graft.core.Materialize

/** Document deduplication operators: exact content dedup, exact n-gram
  * Jaccard pairs (quadratic-in-matches baseline), and MinHash+LSH
  * candidate generation with exact verification (the subquadratic scale
  * path). All hash work is xxhash64 — partition- and retry-stable.
  *
  * Scale notes: exactJaccardPairs shuffles one exploded shingle table
  * and self-joins on the shingle — use only on bounded inputs or after
  * LSH candidate pruning. minhashLshPairs shuffles the same exploded
  * table into k min-aggregations, then joins only rows sharing a
  * (band, bucket) — the classic LSH candidate join — and verifies
  * candidates exactly, so false positives are zero and false negatives
  * are the banding miss probability.
  */
object Dedup {

  /** Exact duplicate groups by content hash: (hash, keep_id, n_copies). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exploded distinct word-n-gram shingles: (id, s). `fanned` fans the
    * narrow (id, text) rows out before the explode — the shingle blow-up
    * is the plan's heavy map side, and a single-row-group input would
    * otherwise run it in one task (guide §2.5). Callers on BOUNDED
    * subsets (the exactJaccardPairs/containment baselines) keep the
    * direct scan: measured on the 300-doc t06 slice, the extra exchange
    * and 32-way persisted partitions cost more than the single-task map
    * (1.6 s → 5.9 s), while the corpus-sized s39 band gains ~2x. */
  private def shingleTable(df: DataFrame, idCol: String, textCol: String,
                           n: Int, fanned: Boolean = false) = {
    val narrow = df.select(col(idCol).as("__id"), col(textCol))
    val src = if (fanned) graft.core.Par.fanOut(narrow, col("__id")) else narrow
    src.select(col("__id"), explode(TextFunctions.shingles(col(textCol), n)).as("s"))
  }

  private def verified(sh: DataFrame, cand: DataFrame, sizes: DataFrame,
                       threshold: Double): DataFrame = {
    // semi-join prune: only candidate docs' shingles reach the equality
    // join — without this the full shingle table shuffles on (id, s)
    val shB = sh.toDF("doc_b", "s")
      .join(cand.select("doc_b").distinct(), Seq("doc_b"), "left_semi")
    cand
      .join(sh.toDF("doc_a", "s"), "doc_a")
      .join(shB, Seq("doc_b", "s"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
      .withColumn("jaccard", col("i") * lit(1.0) / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Exact Jaccard near-dup pairs over word n-grams: all pairs sharing at
    * least one shingle, filtered to jaccard >= threshold.
    */
  def exactJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double): DataFrame = {
    val sh = Materialize.shared(shingleTable(df, idCol, textCol, n))
    val cand = sh.toDF("doc_a", "s")
      .join(sh.toDF("doc_b", "s2"), col("s") === col("s2") && col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    verified(sh, cand, sh.groupBy("__id").agg(count(lit(1)).as("n")), threshold)
  }

  /** Exact Jaccard pairs from a QUERY document subset against the whole
    * corpus, by DIRECT intersection counting: the (query-shingle ⋈
    * corpus-shingle) equality join emits exactly one row per shared
    * shingle per pair — shingle lists are per-doc distinct — so
    * `groupBy(pair).count` IS the intersection size, with no candidate
    * materialization and no second verification join. One narrow
    * shuffle of Σ df_q·df rows. The right exact-band shape when the
    * vocabulary is small/dense (uniform doc frequencies defeat prefix
    * filtering: with every shingle at df ≈ n_docs/20 the prefix buckets
    * are as big as the corpus) or when truth is only needed for a
    * bounded query slice. Pairs are (a, b) with a < b and a satisfying
    * `queryPred`.
    */
  def exactJaccardPairsFrom(df: DataFrame, idCol: String, textCol: String,
                            n: Int, threshold: Double,
                            queryPred: Column => Column): DataFrame = {
    val sh = Materialize.shared(shingleTable(df, idCol, textCol, n, fanned = true))
    val sizes = sh.groupBy("__id").agg(count(lit(1)).as("n"))
    val inter = sh.filter(queryPred(col("__id"))).toDF("doc_a", "s")
      .join(sh.toDF("doc_b", "s2"),
        col("s") === col("s2") && col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
    inter
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
      .withColumn("jaccard", col("i") * lit(1.0) / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Exact Jaccard pairs with PREFIX FILTERING (the AllPairs/PPJoin
    * candidate scheme — Bayardo et al. WWW'07, Xiao et al. WWW'08):
    * identical output to [[exactJaccardPairs]], but candidates are
    * generated only from each document's `⌊n·(1−t)⌋+1` globally RAREST
    * shingles (rare-first total order = ascending doc-frequency, shingle
    * value as tie-break). Two sets with J ≥ t must share a token within
    * both prefixes of that length — sets sharing ZERO prefix tokens can
    * overlap only in their suffixes, bounding the intersection below the
    * J ≥ t requirement — so no qualifying pair is lost, while the
    * candidate join touches ~(1−t) of the shingle volume and the
    * rare-first order makes bucket sizes tiny. At t = 0.9 this is the
    * scale path for exact-band truth at corpus size (measured 103.9 s →
    * ~8 s on the 5k-doc corpus); verification is the same
    * candidate-only semi-joined intersection count.
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         n: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = Materialize.shared(shingleTable(df, idCol, textCol, n))
    val sizes = sh.groupBy("__id").agg(count(lit(1)).as("n"))
    // prefix length n − ⌈t·n⌉ + 1 (tight form of ⌊(1−t)n⌋+1); the 1e-6
    // guard keeps IEEE noise in t·n from flipping the ceil at integer
    // boundaries — erring only toward a one-longer (still correct) prefix
    val prefLen = (col("n") - ceil(col("n") * threshold - 1e-6) + 1).cast("long")
    val ranked = sh
      .join(sh.groupBy("s").agg(count(lit(1)).as("__df")), "s")
      .withColumn("__rk", row_number().over(
        Window.partitionBy("__id").orderBy(col("__df"), col("s"))))
    val pref = ranked.join(sizes, "__id")
      .filter(col("__rk") <= prefLen)
      .select(col("__id"), col("s"))
    val cand = pref.toDF("doc_a", "s")
      .join(pref.toDF("doc_b", "s2"),
        col("s") === col("s2") && col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    verified(sh, cand, sizes, threshold)
  }

  /** Asymmetric containment pairs: C(a→b) = |sh(a) ∩ sh(b)| / |sh(a)| —
    * the quote/inclusion detector Jaccard misses (a short doc fully
    * embedded in a long one has high containment but low Jaccard). Same
    * posting-list plan as the Jaccard baseline — one shingle self-join on
    * the shingle key, never all-pairs — but both orders of each pair are
    * scored since the measure is directional. Bounded-input exact
    * baseline by the same contract as exactJaccardPairs; the LSH
    * candidate route composes identically when the corpus outgrows it.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double): DataFrame = {
    val sh = Materialize.shared(shingleTable(df, idCol, textCol, n))
    val sizes = sh.groupBy("__id").agg(count(lit(1)).as("n"))
    sh.toDF("doc_a", "s")
      .join(sh.toDF("doc_b", "s2"),
        col("s") === col("s2") && col("doc_a") =!= col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .withColumn("containment", col("i") * lit(1.0) / col("na"))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")
  }

  /** Exact duplicated char-window detection, hashed form — the scale
    * path for t20's raw-text registry row: every `width`-char window
    * appearing in >= `minDocs` documents, keyed by a 64-bit hash
    * computed in one fused byte scan (plans.CharWindowHashes, distinct
    * per doc map-side), so the exchange moves 8 bytes per window instead
    * of the window text. Output: (win_h, n_docs). A false merge needs an
    * xxhash64 collision between two distinct windows, ~2^-64 per pair.
    */
  def dupSubstringsHashed(df: DataFrame, idCol: String, textCol: String,
                          width: Int, minDocs: Int): DataFrame =
    graft.core.Par.fanOut(df.select(col(idCol), col(textCol)), col(idCol))
      .select(explode(graft.plans.CharWindowHashes(col(textCol), width)).as("win_h"))
      .groupBy("win_h").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** Chunk-level (sentence/paragraph-style) exact dedup with a
    * keep-first policy: each document is cut into non-overlapping
    * `chunkTokens`-token chunks; a chunk repeated anywhere in the corpus
    * survives only at its globally first occurrence (smallest
    * (document id, chunk index)); every document is re-assembled from
    * its surviving chunks in order. Output: (idCol, clean_text, n_kept),
    * one row per input document (fully-deduplicated docs keep an empty
    * clean_text).
    *
    * The corpus has no sentence boundaries, so fixed token windows stand
    * in for sentences; with a real segmenter only the chunker changes.
    *
    * Scale notes: chunking is a narrow projection (sequence + slice on
    * the split array — no explode-then-regroup to BUILD chunks). The
    * occurrence key packs (id, chunk index) into one long, so the
    * keep-first winner is a plain min — a single map-side-combinable
    * hash aggregate, not a min(struct) SortAggregate and not a window.
    * The frequency join shuffles chunk text as the key for cross-engine
    * oracle parity (t20 precedent); at corpus scale key the join by
    * xxhash64(chunk) and the exchange moves 8-byte keys (a false merge
    * needs a 2^-64 collision inside one bucket).
    */
  def dedupChunks(docs: DataFrame, idCol: String, textCol: String,
                  chunkTokens: Int, posFactor: Long = 1L << 20): DataFrame = {
    val w = split(col(textCol), " ")
    val nChunks = ceil(size(w) / lit(chunkTokens.toDouble)).cast("int")
    val chunkArr = transform(sequence(lit(0), nChunks - 1),
      i => array_join(slice(w, i * chunkTokens + 1, lit(chunkTokens)), " "))
    val occ = docs
      .select(col(idCol), posexplode(chunkArr).as(Seq("__ci", "__chunk")))
      .withColumn("__k", col(idCol).cast("long") * posFactor + col("__ci"))
    val freq = occ.groupBy("__chunk")
      .agg(count(lit(1)).as("__c"), min("__k").as("__keep"))
    val kept = occ.join(freq, "__chunk")
      .filter(col("__c") === 1 || col("__k") === col("__keep"))
    val rebuilt = kept.groupBy(idCol).agg(
      array_join(transform(
        array_sort(collect_list(struct(col("__ci").as("ci"), col("__chunk").as("ch")))),
        x => x.getField("ch")), " ").as("clean_text"),
      count(lit(1)).as("n_kept"))
    docs.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Embedding near-dup pairs via signed-hyperplane LSH — the all-pairs
    * scale path that replaces s02's bounded exact baseline: candidates
    * are id pairs sharing a sign-bucket in ANY of `tables` hash tables,
    * deduped on the id pair, then verified with an exact cosine.
    *
    * Scale notes: candidate volume is O(n² / 2^bits) per table for
    * near-orthogonal corpora, so `bits` must grow with corpus size
    * (≈ log2(n) + c keeps expected bucket occupancy constant);
    * `maxBucketSize` bounds the degenerate case (a dense cluster or
    * zero-vector pileup otherwise goes quadratic inside one bucket).
    * The verification join carries each embedding through a hash join
    * on the id — the bucket exchange itself moves only (id, table,
    * bucket) longs, never the vectors.
    */
  def embeddingNearDupLsh(df: DataFrame, idCol: String, vecCol: String,
                          tables: Int, bits: Int, dims: Int,
                          threshold: Double, maxBucketSize: Int = 0): DataFrame = {
    val e = Materialize.shared(df.select(col(idCol).as("__id"), col(vecCol).as("__v"),
        Similarity.l2norm(col(vecCol)).as("__n")))
    val buckets = e.select(col("__id"),
        posexplode(Similarity.hyperplaneBuckets(col("__v"), tables, bits, dims))
          .as(Seq("t", "b")))
      .select("__id", "t", "b")
    val capped =
      if (maxBucketSize <= 0) buckets
      else {
        val big = buckets.groupBy("t", "b")
          .agg(count(lit(1)).as("__bn")).filter(col("__bn") > maxBucketSize)
          .select("t", "b")
        buckets.join(broadcast(big), Seq("t", "b"), "left_anti")
      }
    val cand = capped.alias("x")
      .join(capped.alias("y"),
        col("x.t") === col("y.t") && col("x.b") === col("y.b") &&
          col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("vec_a"), col("y.__id").as("vec_b"))
      .distinct()
    cand
      .join(e.select(col("__id").as("vec_a"), col("__v").as("__va"), col("__n").as("__na")), "vec_a")
      .join(e.select(col("__id").as("vec_b"), col("__v").as("__vb"), col("__n").as("__nb")), "vec_b")
      .withColumn("cos", Similarity.dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
  }

  /** Connected components over a near-dup pair graph: assigns every doc
    * appearing in `pairs` the MINIMUM id reachable through the pair
    * relation — the canonical-document assignment that turns pair output
    * (exactJaccardPairs / minhashLshPairs / embeddingNearDupLsh) into
    * "keep one per cluster". Returns (id, component), ids as longs
    * (integral id columns required).
    *
    * Below `smallGraphEdges` distinct edges the graph collects to the
    * driver for a union-find — near-dup pair graphs are tiny relative
    * to their corpus, and rounds of distributed joins cannot beat a
    * bounded in-memory pass. Above it (or with the bound set to 0), the
    * distributed loop below runs.
    *
    * Algorithm: hash-min label propagation with pointer jumping. Each
    * round every node offers its current label to its neighbors and
    * keeps the minimum seen (one equi-join edges ⋈ labels + one
    * min-aggregation), then labels compress one pointer hop
    * (label(v) ← label(label(v)), a labels self-join) — the jump makes
    * the reachable-minimum distance double per round, so convergence is
    * O(log diameter) rounds instead of O(diameter); `maxIter` bounds
    * the degenerate case. The per-round convergence check is a scalar
    * count, not a collect.
    *
    * Scale notes: state per round is one (id, label) table shuffled on
    * id — never the documents. Labels are re-persisted and the previous
    * round unpersisted each iteration; every `checkpointEvery` rounds the
    * lineage is truncated (growing plan trees otherwise dominate
    * optimizer time in long chains). The compression join keys by label
    * value, so one giant component concentrates on one reducer late in
    * the run — dedup-pair graphs (many small clusters) don't hit this.
    * When a round's max-label-frequency exceeds
    * `starFallbackLabelFreq`, the loop hands over to
    * [[connectedComponentsStars]] (alternating large-star/small-star
    * contraction, Kiveris et al., "Connected Components in MapReduce
    * and Beyond"), seeded with the progress already made — the star
    * operations group by NODE and join with a 1-row-per-key side, the
    * shape AQE skew-join can split, where the label-compression join
    * cannot avoid funneling a mega-component's rows.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25,
                          smallGraphEdges: Long = 100000L,
                          starFallbackLabelFreq: Long = 5000000L): DataFrame =
    withoutConstraintPropagation(pairs.sparkSession) {
      connectedComponentsImpl(pairs, aCol, bCol, maxIter, smallGraphEdges,
        starFallbackLabelFreq)
    }

  /** Catalyst constraint propagation is OFF for the whole CC
    * computation: every round state is an eagerly-materialized
    * localCheckpoint, and a checkpoint's LogicalRDD carries the
    * optimized plan's constraint set forward (`originConstraints`).
    * Constraints inherited from the deep iterative lineages (filters
    * over swapped-column self-unions over prior checkpoints) can
    * reference attributes a later `Union.rewriteConstraints` has no
    * mapping for — NoSuchElementException at plan time. Disabling the
    * flag makes every constraint set (and thus every checkpoint's
    * carried set) empty, which both sidesteps the rewrite and stops
    * the optimizer re-deriving constraints over plans that are rebuilt
    * every iteration anyway. Nothing in the loop relies on inferred
    * filters — all predicates are explicit.
    *
    * INVARIANT for callers: the conf is restored in `finally`, BEFORE
    * any lazily-returned DataFrame is analyzed/optimized, so any plan
    * `body` returns must reference ONLY checkpointed (flat LogicalRDD,
    * empty-constraint) leaves. Returning a plan with union/filter
    * lineage over non-checkpointed inputs would be optimized with
    * constraint propagation re-enabled and reintroduce the
    * Union.rewriteConstraints crash this guard exists to prevent. */
  private def withoutConstraintPropagation[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val key = "spark.sql.constraintPropagation.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def connectedComponentsImpl(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int,
                          smallGraphEdges: Long,
                          starFallbackLabelFreq: Long): DataFrame = {
    require(smallGraphEdges < Int.MaxValue, "smallGraphEdges must fit in Int")
    // small-graph fast path: near-dup pair graphs are tiny relative to
    // the corpus they came from (LSH pairs ≪ docs); below the bound a
    // driver union-find beats rounds of distributed joins outright.
    // ONE bounded probe decides the path AND delivers the data: collect
    // at most bound+1 pairs — if they all fit, that IS the whole graph
    // (no separate count job, no second computation of the pair input).
    // Set the bound to 0 to force the distributed path.
    val probe =
      if (smallGraphEdges <= 0) Array.empty[org.apache.spark.sql.Row]
      else pairs.select(col(aCol).cast("long"), col(bCol).cast("long"))
        .limit(smallGraphEdges.toInt + 1).collect()
    if (smallGraphEdges > 0 && probe.length <= smallGraphEdges) {
      val out = localUnionFind(probe.iterator.map(r => (r.getLong(0), r.getLong(1))))
      val sess = pairs.sparkSession
      import sess.implicits._
      return out.toSeq.toDF("id", "component")
    }
    // repartition by src AFTER the dedup shuffle: the per-round
    // edges ⋈ labels join then reuses this layout every iteration
    // instead of re-shuffling the (biggest) edge table each round;
    // ids travel as longs on both paths so the output schema does not
    // depend on which path ran. Materialize.pin rather than shared:
    // the flat leaf (partitioning preserved) keeps every round's plan
    // free of the caller's input lineage — a swapped-column self-union
    // over an already-union-built input otherwise trips Catalyst union
    // constraint rewriting downstream, and re-analyzing the deep tree
    // each round is pure optimizer tax.
    val edges = Materialize.pin(pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .union(pairs.select(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))
      .distinct()
      .repartition(col("src")))
    // EVERY iteration state is a Materialize.pin: a persist keeps the
    // full nested LOGICAL plan, so Catalyst/AQE re-analyze a tree that
    // grows per round and round cost climbs even though the data is
    // cached.
    var labels = Materialize.pin(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      // joins are hinted SHUFFLE_HASH: the label table sits under
      // typical broadcast thresholds mid-size, and auto-broadcast would
      // collect it to the driver on EVERY join of EVERY round
      val offers = edges.join(
          labels.withColumnRenamed("id", "src").hint("SHUFFLE_HASH"), "src")
        .select(col("dst").as("id"), col("label"),
          lit(null).cast("long").as("__old"))
      // the PREVIOUS label rides through the round as __old: the labels
      // branch carries it, offers carry null, and max() recovers it
      // after the min-aggregation (each id has exactly one labels row).
      // That lets the round-stats aggregation below run WITHOUT joining
      // back to the label table — the join cost two exchanges per round.
      // Checkpointed before the self-join below reads it TWICE (the
      // rename makes the exchange keys differ, so reuse cannot fire).
      val propagated = Materialize.pin(labels.withColumn("__old", col("label"))
        .union(offers)
        .groupBy("id").agg(min("label").as("label"), max("__old").as("__old")))
      // pointer jump: follow the label one hop (labels always name a
      // node of the graph, so the join always finds its row)
      val next = Materialize.pin(propagated
        .join(propagated.select(col("id").as("label"), col("label").as("__hop"))
          .hint("SHUFFLE_HASH"), Seq("label"))
        .select(col("id"), col("__hop").as("label"), col("__old")))
      // ONE aggregate job feeds both the convergence test and the skew
      // trip-wire: group by new label, emit per-label row counts and
      // per-label changed counts (new < carried old), then reduce to
      // (max frequency, total changed). Partial aggregation combines
      // map-side, so the label exchange carries one row per distinct
      // label per partition — not the full id table. No join: __old
      // arrived with the row.
      val roundStats = next
        .groupBy("label")
        .agg(count(lit(1)).as("__cnt"),
          sum(when(col("label") < col("__old"), 1L).otherwise(0L)).as("__chg"))
        .agg(max("__cnt"), sum("__chg"))
        .head()
      // null-safe: an empty edge set (possible when the small-graph
      // probe is disabled with bound=0 on empty input) makes max/sum
      // return null — treat as converged-empty, not an NPE
      changed = if (roundStats.isNullAt(1)) 0L else roundStats.getLong(1)
      val maxFreq = if (roundStats.isNullAt(0)) 0L else roundStats.getLong(0)
      // giant-component guard: when one label owns more rows than the
      // bound, the NEXT compression join would funnel them through one
      // reducer — hand over to the star contraction, seeding it with
      // the progress made so far (id→label edges preserve components
      // and shortcut already-propagated minima). Gated on changed > 0:
      // a converged labeling is final — return it even if a component
      // is giant, there is no further compression join to protect.
      if (changed > 0 && maxFreq > starFallbackLabelFreq) {
        // seeded is pinned BEFORE the round state is released: it reads
        // `next`'s pinned blocks, and the flat leaf also sidesteps Catalyst
        // constraint rewriting over a union of filtered lineages
        val seeded = Materialize.pin(edges.select(col("src").as("a"), col("dst").as("b"))
          .union(next.filter(col("id") =!= col("label"))
            .select(col("id").as("a"), col("label").as("b"))))
        Materialize.release(next)
        Materialize.release(labels)
        Materialize.release(edges)
        val out = connectedComponentsStars(seeded, "a", "b", maxIter,
          smallGraphEdges)
        Materialize.release(seeded)
        return out
      }
      // release the superseded round state NOW: left to ContextCleaner,
      // the blocks linger as pressure on whatever runs next (observed as
      // a bench-wide slowdown decaying over the queries after this loop)
      Materialize.release(propagated)
      Materialize.release(labels)
      labels = next
      iter += 1
    }
    Materialize.release(edges)
    labels.select(col("id"), col("label").as("component"))
  }

  /** Driver-side union-find with path compression over a bounded edge
    * iterator: id → min id of its component, one entry per node seen. */
  private def localUnionFind(edges: Iterator[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      if (r != x) parent(x) = r // path compression
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) — the skew-safe fallback
    * [[connectedComponents]] hands over to when one component grows
    * past `starFallbackLabelFreq`.
    *
    * Why it survives a giant component where label compression does
    * not: both star operations key their shuffle by NODE, not by
    * label. Large-star — for each node u with neighborhood Γ(u) and
    * m = min(Γ(u) ∪ u), rewire every neighbor v > u to (v, m).
    * Small-star — orient edges toward the larger endpoint, then for
    * each node u with smaller-neighbor set N⁻(u) and m = min(N⁻(u) ∪ u),
    * rewire N⁻(u) ∪ {u} to m. A mega-component never concentrates on
    * one reducer: the per-node groupBy partial-aggregates map-side,
    * and the rewire join's skewed hub keys are exactly the shape AQE
    * skew-join splits. Converges in O(log² n) rounds (O(log n)
    * observed); the fixpoint is a star forest rooted at each
    * component's minimum id.
    *
    * Self-loops are dropped up front and every round's output is
    * `distinct()`, so edge count is non-increasing. The input is
    * eagerly checkpointed FIRST — callers may free the blocks backing
    * `pairs` as soon as this function returns (the guard in
    * [[connectedComponents]] relies on this to unpersist its round
    * state after the handover).
    *
    * Output schema matches [[connectedComponents]]: (id: long,
    * component: long), one row per distinct node in `pairs`, component
    * = min id of the node's component (self-paired nodes map to
    * themselves).
    */
  def connectedComponentsStars(pairs: DataFrame, aCol: String, bCol: String,
                               maxIter: Int = 25,
                               smallGraphEdges: Long = 100000L): DataFrame =
    withoutConstraintPropagation(pairs.sparkSession) {
      connectedComponentsStarsImpl(pairs, aCol, bCol, maxIter, smallGraphEdges)
    }

  private def connectedComponentsStarsImpl(pairs: DataFrame, aCol: String,
                                           bCol: String, maxIter: Int,
                                           smallGraphEdges: Long): DataFrame = {
    // nodes kept aside so the star loop can drop self-loops freely:
    // a node whose component collapses to itself leaves the edge set,
    // and the final left-join restores it as its own component root
    val nodes = Materialize.pin(pairs
      .select(col(aCol).cast("long").as("id"))
      .union(pairs.select(col(bCol).cast("long").as("id")))
      .distinct())
    // eager: input blocks are safe to free after this
    var edges = Materialize.pin(pairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    var iter = 0
    var prevCount = edges.count()
    var done = prevCount == 0L
    while (!done && iter < maxIter) {
      // ONE materialization per round: small-star over large-star in a
      // single plan. smallStar reads its input twice (mins + rewire
      // join), but both reads shuffle the identical large-star subtree
      // on the same key, so ReuseExchange serves the second read from
      // the first's shuffle files — cheaper than a second checkpoint.
      val ss = Materialize.pin(smallStar(largeStar(edges)))
      Materialize.release(edges)
      edges = ss
      // the edge count is non-increasing (every round ends distinct),
      // and a fixpoint necessarily repeats the previous round's count —
      // so the structural star-forest check (a shuffle job) only runs
      // on count-stable rounds; a conversion that still shrank the
      // count is caught one round later at the cost of one no-op round
      val cnt = edges.count()
      // contraction shrinks the edge set geometrically on the shapes
      // that need many rounds (deep paths): once it fits the driver
      // bound, a local union-find finishes in one collect instead of
      // the remaining O(log n) distributed rounds. Every surviving node
      // still appears in the contracted edges (children persist until
      // their component collapses), so connectivity is fully preserved.
      if (!done && smallGraphEdges > 0 && cnt <= smallGraphEdges) {
        val uf = localUnionFind(edges.collect()
          .iterator.map(r => (r.getLong(0), r.getLong(1))))
        val sess = pairs.sparkSession
        import sess.implicits._
        Materialize.release(edges)
        edges = Materialize.pin(uf.iterator.filter { case (v, r) => v != r }.toSeq
          .toDF("a", "b"))
        done = true
      } else {
        done = cnt == prevCount && isStarForest(edges)
      }
      prevCount = cnt
      iter += 1
    }
    // on normal convergence the edge set is a star forest (single parent
    // per child) and the join is 1:1; if maxIter exhausted first, a
    // multi-parent child would fan the join out — min-aggregate in that
    // degenerate branch only, keeping the output one row per id with
    // best-effort labels (the main loop's maxIter contract)
    val starEdges = edges.select(col("a").as("id"), col("b").as("__root"))
    val resolved =
      if (done) starEdges
      else starEdges.groupBy("id").agg(min("__root").as("__root"))
    nodes
      .join(resolved, Seq("id"), "left")
      .select(col("id"), coalesce(col("__root"), col("id")).as("component"))
  }

  /** Large-star: per node u, rewire all strictly-larger neighbors to
    * the minimum of the closed neighborhood. Keyed by node on both the
    * groupBy and the join — no per-label funnel. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val nbrs = edges
      .union(edges.select(col("b").as("a"), col("a").as("b")))
    val mins = nbrs.groupBy("a")
      .agg(min("b").as("__mn"))
      .select(col("a"), least(col("__mn"), col("a")).as("__m"))
    // NOT distinct-ed: mid-round duplicates (two nodes rewiring the same
    // neighbor to the same min) are absorbed by smallStar's map-side
    // combine and end-of-round distinct — skipping the extra full
    // shuffle here saves one exchange per contraction round
    nbrs.join(mins.hint("SHUFFLE_HASH"), "a")
      .filter(col("b") > col("a"))
      .select(col("b").as("a"), col("__m").as("b"))
      .filter(col("a") =!= col("b"))
  }

  /** Small-star: orient each edge toward its larger endpoint, then per
    * node u rewire the smaller-neighbor set (and u itself) to its
    * minimum. Emitted edges always point high→low, so (a, b) keeps the
    * child-on-the-left convention large-star expects. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges.select(
      greatest(col("a"), col("b")).as("u"),
      least(col("a"), col("b")).as("v"))
    val mins = oriented.groupBy("u").agg(min("v").as("__m"))
    oriented.join(mins.hint("SHUFFLE_HASH"), "u")
      .select(col("v").as("a"), col("__m").as("b"))
      .union(mins.select(col("u").as("a"), col("__m").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** Star-forest fixpoint test in ONE aggregate job: the alternating
    * contraction has converged iff no node appears as both a child and
    * a parent (no chains) and no child has two parents. Both conditions
    * reduce over a per-node groupBy with map-side combine; limit(1)
    * stops the scan at the first violation. */
  private def isStarForest(edges: DataFrame): Boolean = {
    val roles = edges
      .select(col("a").as("n"), lit(1).as("__child"), col("b").as("__p"))
      .union(edges.select(col("b").as("n"), lit(0).as("__child"),
        lit(null).cast("long").as("__p")))
    roles.groupBy("n")
      .agg(max("__child").as("__hasChild"), min("__child").as("__minChild"),
        countDistinct("__p").as("__np"))
      .filter((col("__hasChild") === 1 && col("__minChild") === 0) ||
        col("__np") > 1)
      .limit(1)
      .count() == 0L
  }

  /** MinHash+LSH near-dup pairs: k seeded min-hashes, `bands` bands of
    * k/bands rows, candidates from the band-bucket equi-join, exact
    * Jaccard verification of candidates only.
    *
    * `maxBucketSize` (0 = uncapped) drops any (band, bucket) with more
    * members before candidate pairing — standard LSH hygiene: a
    * degenerate bucket (boilerplate, empty-ish docs) otherwise goes
    * quadratic within the bucket. Dropped buckets are overwhelmingly
    * low-precision; genuinely similar pairs still collide in the other
    * bands (recall contract pinned in SimilaritySpec).
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int, k: Int, bands: Int, threshold: Double,
                      maxBucketSize: Int = 0): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    // whole (signature, distinct-count) sketch as a SCALAR expression —
    // one fused byte scan per doc, a narrow projection with NO shuffle
    // (the former explode → groupBy → signature-aggregate chain moved
    // every shingle hash through an exchange just to take k minima).
    // Docs with no shingles get n = 0 and are dropped, matching the
    // aggregate path where they had no rows to group. Persisted: band
    // explode runs once per self-join side plus the sizes read.
    val sigs = Materialize.shared(minhashSignatures(df, idCol, textCol, n, k)
      .withColumnRenamed(idCol, "__id"))
    val buckets = minhashBandBuckets(sigs, "__id", k, bands)
    val capped = cappedBuckets(buckets, maxBucketSize)
    val cand = Materialize.shared(capped.alias("x")
      .join(capped.alias("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("doc_a"), col("y.__id").as("doc_b"))
      .distinct())
    // shingles explode for CANDIDATE docs only (semi-join on the doc
    // table BEFORE the explode — LSH leaves most of the corpus out of
    // any candidate pair, so the dominant explode cost shrinks to the
    // near-dup fraction). Carried as 64-bit hashes end-to-end:
    // ShingleHashes emits distinct xxhash64 values in one fused byte
    // scan (no string shingles materialized); overlap verifies on the
    // hash (a false merge needs two distinct shingles of one candidate
    // pair sharing an xxhash64 — ~2^-64 per pair). The exact-string
    // path lives in exactJaccardPairs.
    val candIds = cand.select(explode(array(col("doc_a"), col("doc_b"))).as("__id"))
      .distinct()
    val sh = Materialize.shared(graft.core.Par.fanOut(
        df.select(col(idCol).as("__id"), col(textCol)), col("__id"))
      .select(col("__id"), graft.plans.ShingleHashes(col(textCol), n).as("__shs"))
      .join(candIds, Seq("__id"), "left_semi")
      .select(col("__id"), explode(col("__shs")).as("s")))
    verified(sh, cand, sigs.select(col("__id"), col("n")), threshold)
  }

  /** MinHash signature table for a corpus slice: (idCol, sig: array<long>,
    * n: distinct-shingle count), xxhash64 family, one fused byte scan per
    * doc. Compute ONCE per corpus slice and persist it as a table — every
    * later incremental batch (see incrementalNearDupPairs) reuses the
    * stored signatures instead of re-sketching the corpus. Docs with no
    * shingles are dropped (they cannot near-dup). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int): DataFrame =
    // fanned: the fused sketch is one full byte scan per doc — the heavy
    // map side a single-row-group input would run in one task (§2.5)
    graft.core.Par.fanOut(df.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol), graft.plans.MinHashSketch(col(textCol), n, k).as("__sk"))
      .select(col(idCol), col("__sk.sig").as("sig"), col("__sk.n").as("n"))
      .filter(col("n") > 0)

  /** Band-bucket rows from a signature table: (idCol, band, bucket) —
    * `bands` rows per doc, bucket = xxhash64 of the band's signature rows. */
  def minhashBandBuckets(sigs: DataFrame, idCol: String, k: Int,
                         bands: Int): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    val bandStructs = array((0 until bands).map { band =>
      struct(lit(band).as("band"),
        xxhash64((band * r until (band + 1) * r)
          .map(i => element_at(col("sig"), i + 1)): _*).as("bucket"))
    }: _*)
    sigs.select(col(idCol), explode(bandStructs).as("bk"))
      .select(col(idCol), col("bk.band"), col("bk.bucket"))
  }

  /** LSH bucket hygiene: drop every (band, bucket) with more than
    * `maxBucketSize` members (0 = uncapped). The oversized list is tiny by
    * construction → broadcast anti-join. */
  private def cappedBuckets(buckets: DataFrame, maxBucketSize: Int): DataFrame =
    if (maxBucketSize <= 0) buckets
    else {
      val big = buckets.groupBy("band", "bucket")
        .agg(count(lit(1)).as("__bn")).filter(col("__bn") > maxBucketSize)
        .select("band", "bucket")
      buckets.join(broadcast(big), Seq("band", "bucket"), "left_anti")
    }

  /** Incremental near-dup: a NEW crawl batch against an already-sketched
    * corpus — the continuously-growing-corpus shape. The corpus side
    * arrives as its STORED signature table (minhashSignatures, computed
    * once when each earlier batch landed); only the new batch is sketched
    * here, candidates come from joining the batch's band buckets against
    * the corpus buckets (never corpus x corpus — adding a batch costs
    * O(batch + candidates), not O(corpus)), and exact-Jaccard verification
    * re-reads TEXT for candidate docs only (semi-join pushed below the
    * shingle explode on both sides). Returns (new_id, old_id, jaccard) —
    * within-batch pairs are minhashLshPairs(newDocs)'s job.
    *
    * `maxBucketSize` caps each side's buckets independently: the stored
    * corpus knows its own degenerate (boilerplate) buckets, and a batch
    * can go degenerate on its own; both lists stay broadcast-small. */
  def incrementalNearDupPairs(
      newDocs: DataFrame, oldDocs: DataFrame, oldSigs: DataFrame,
      idCol: String, textCol: String,
      n: Int, k: Int, bands: Int, threshold: Double,
      maxBucketSize: Int = 0): DataFrame = {
    val newSigs = Materialize.shared(minhashSignatures(newDocs, idCol, textCol, n, k)
      .withColumnRenamed(idCol, "__id"))
    val newBk = cappedBuckets(
      minhashBandBuckets(newSigs, "__id", k, bands), maxBucketSize)
    val oldBk = cappedBuckets(
      minhashBandBuckets(oldSigs.withColumnRenamed(idCol, "__id"), "__id", k, bands),
      maxBucketSize)
    val cand = Materialize.shared(newBk.toDF("__new", "band", "bucket")
      .join(oldBk.toDF("__old", "band", "bucket"), Seq("band", "bucket"))
      .select(col("__new").as("doc_a"), col("__old").as("doc_b"))
      .distinct())
    def candShingles(docs: DataFrame, side: String) =
      docs.select(col(idCol).as("__id"),
          graft.plans.ShingleHashes(col(textCol), n).as("__shs"))
        .join(cand.select(col(side).as("__id")).distinct(), Seq("__id"), "left_semi")
        .select(col("__id"), explode(col("__shs")).as("s"))
    val sh = Materialize.shared(candShingles(newDocs, "doc_a").union(candShingles(oldDocs, "doc_b")))
    val sizes = newSigs.select(col("__id"), col("n"))
      .union(oldSigs.select(col(idCol).as("__id"), col("n")))
    verified(sh, cand, sizes, threshold)
      .select(col("doc_a").as("new_id"), col("doc_b").as("old_id"), col("jaccard"))
  }

  /** SimHash near-dup pairs, Manku-style: split each 64-bit simhash
    * into 4 bands of 16 bits; docs sharing any band value become
    * candidates (an equi-join on (band, value) — never all-pairs); a
    * candidate survives when full Hamming distance ≤ `maxHamming`.
    * Pigeonhole guarantee: a pair within Hamming 3 differs in at most 3
    * bands, so it ALWAYS shares one — recall is exact for radius ≤ 3
    * and probabilistic above (DedupSimhashSpec pins both).
    *
    * Input: (id, 64-bit simhash). Output: (doc_a, doc_b, hamming),
    * doc_a < doc_b, one row per pair however many bands matched.
    *
    * Scale notes: band rows are 4 fixed-width longs per doc; the pair
    * dedup shuffles only (id, id, two longs). Candidate volume per
    * bucket is corpus/2^16-ish per band under uniform hashing —
    * degenerate buckets (all-identical docs) are the exact-dedup
    * operator's job to remove first.
    */
  def simhashNearDups(sims: DataFrame, idCol: String, shCol: String,
                      maxHamming: Int): DataFrame = {
    val banded = sims.select(col(idCol), col(shCol),
      posexplode(array((0 until 4).map(i =>
        call_function("shiftright", col(shCol), lit(48 - 16 * i))
          .bitwiseAND(lit(0xffffL))): _*)).as(Seq("band", "bv")))
    val a = banded.select(col(idCol).as("doc_a"), col(shCol).as("sha"),
      col("band"), col("bv"))
    val b = banded.select(col(idCol).as("doc_b"), col(shCol).as("shb"),
      col("band"), col("bv"))
    a.join(b, Seq("band", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "sha", "doc_b", "shb")
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming",
        bit_count(col("sha").bitwiseXOR(col("shb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication"):
    * cluster embeddings to k centroids, then prune within clusters only
    * — a vector is dropped when a SMALLER-id vector in the SAME cluster
    * has cosine >= `minCos` (deterministic keep-first form of the
    * paper's one-per-group pruning). Near-dup pairs that land in
    * different clusters are the method's accepted miss, exactly like
    * LSH banding misses.
    *
    * Output: (idCol, cell_id, kept) for EVERY vector.
    *
    * Scale: the self-join is keyed by cell_id, so the quadratic term is
    * sum(|cluster|^2) — k grows with the corpus (n/k docs per cluster
    * held constant, the paper's regime) and the shuffle stays one
    * exchange of (id, vec, norm) rows. Centroids are bounded driver
    * state shipped as one constant matrix (NearestCell kernel); norms
    * are computed once per vector, not once per pair.
    */
  def semanticDedup(vectors: DataFrame, cents: DataFrame, idCol: String,
                    vecCol: String, minCos: Double): DataFrame = {
    val asg = Ivf.assign(vectors, cents, idCol, vecCol)
      .select(col(idCol), col(vecCol), col("cell_id"),
        Similarity.l2norm(col(vecCol)).as("__nrm"))
    val a = asg.select(col("cell_id"), col(idCol).as("__a"),
      col(vecCol).as("__va"), col("__nrm").as("__na"))
    val b = asg.select(col("cell_id"), col(idCol).as("__b"),
      col(vecCol).as("__vb"), col("__nrm").as("__nb"))
    val dropped = a.join(b, Seq("cell_id"))
      .filter(col("__a") < col("__b"))
      .filter(Similarity.dot(col("__va"), col("__vb"))
        / (col("__na") * col("__nb")) >= minCos)
      .select(col("__b").as(idCol)).distinct()
    asg.join(dropped.withColumn("__d", lit(1)), Seq(idCol), "left")
      .select(col(idCol), col("cell_id"), col("__d").isNull.as("kept"))
  }

  /** md5-family MinHash signature table: (idCol, n, m0..m{k-1}) with
    * each min-hash the first 16 hex chars of md5(shingle || ":" || i) —
    * fixed-width lowercase hex is monotonic, so string MIN == numeric
    * MIN and any SQL engine with md5 replays the signature exactly.
    * The ORACLE hash family (16 md5s per distinct shingle is its
    * price); production sketching is minhashSignatures (xxhash64).
    */
  def md5Signatures(docs: DataFrame, idCol: String, textCol: String,
                    n: Int, k: Int): DataFrame = {
    // fanned: 16 md5s per distinct shingle is the oracle family's
    // inherent map cost (NOTES) — a single-row-group input would burn
    // it all in one task (§2.5)
    val sh = graft.core.Par.fanOut(
        docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol), explode(TextFunctions.shingles(col(textCol), n)).as("s"))
    val aggs = count(lit(1)).as("n") +: (0 until k).map(i =>
      min(substring(md5(concat(col("s"), lit(":" + i))), 1, 16)).as(s"m$i"))
    sh.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
  }

  /** Band rows for [[md5Signatures]] output: (idCol, band, bkey) with
    * bkey the "|"-joined signature rows of the band. */
  def md5BandRows(sig: DataFrame, idCol: String, k: Int,
                  bands: Int): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    sig.select(col(idCol),
      posexplode(array((0 until bands).map(b =>
        concat_ws("|", (0 until r).map(j => col(s"m${r * b + j}")): _*)): _*))
        .as(Seq("band", "bkey")))
  }
}
