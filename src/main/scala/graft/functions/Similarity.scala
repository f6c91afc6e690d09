package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector-similarity and locality-sensitive-hashing primitives for
  * near-duplicate detection and approximate nearest-neighbour search.
  *
  * All scalar math is built from higher-order array expressions (strict
  * left folds), so results are deterministic and reproducible in any
  * engine with IEEE doubles; hashes use xxhash64 (seed-stable, partition
  * independent). No UDFs — everything stays inside codegen.
  */
object Similarity {

  /** Strict in-order dot product of two numeric arrays as double —
    * native codegen expression (plans.DotProduct), bit-identical to the
    * aggregate(zip_with(cast·cast)) fold the oracle SQL states.
    */
  def dot(a: Column, b: Column): Column = graft.plans.DotProduct(a, b)

  /** The higher-order-function fold dot (the oracle's formulation) —
    * kept for the equivalence spec.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm (IEEE sqrt is correctly rounded — engine-portable). */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two numeric arrays. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** 64-bit SimHash over an array of string tokens: per-bit vote of each
    * token's xxhash64, sign-packed into one long.
    */
  def simhash64(tokens: Column): Column = {
    val votes = aggregate(
      tokens,
      array_repeat(lit(0L), 64),
      (acc, t) => zip_with(
        acc,
        transform(sequence(lit(0), lit(63)),
          b => when(call_function("shiftright", xxhash64(t), b).bitwiseAND(1) === 1, 1L)
            .otherwise(-1L)),
        (x, y) => x + y))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, b) => when(v > 0, call_function("shiftleft", lit(1L), b)).otherwise(0L)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Hamming distance between two 64-bit hashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash via explode + hash aggregation: same result as [[simhash64]]
    * but as 64 codegen'd SUM buffers over exploded (id, token-hash) rows
    * instead of nested array lambdas — the faster shape for corpus-wide
    * computation. Usage:
    * {{{ df.select(id, explode(tokens).as("tok"))
    *      .groupBy(id).agg(simhashVoteAggs: _*)
    *      .select(id, packSimhashVotes) }}}
    */
  def simhashVoteAggs(tok: Column): Seq[Column] =
    (0 until 64).map { b =>
      sum(when(call_function("shiftright", xxhash64(tok), lit(b)).bitwiseAND(1) === 1, 1L)
        .otherwise(-1L)).as(s"__v$b")
    }

  def packSimhashVotes: Column =
    (0 until 64).map { b =>
      when(col(s"__v$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce((a, c) => a.bitwiseOR(c))

  /** First 16 hex digits of md5(tok) as int columns __d0 (MSB) .. __d15
    * — projected ONCE per token row so the 64 vote aggregates below
    * don't each recompute the md5 (subexpression elimination shares the
    * single md5 across the 16 digits inside one projection, but NOT
    * across separate aggregate expressions).
    */
  def md5Digits16(tok: Column): Seq[Column] = {
    val hx = md5(tok)
    (0 until 16).map(p =>
      conv(substring(hx, p + 1, 1), 16, 10).cast("int").as(s"__d$p"))
  }

  /** SimHash vote aggs with the token hash swapped to the first 64 bits
    * of md5 — the cross-engine-reproducible instance (md5 is the only
    * hash this engine and the SQL oracle share; xxhash64 above is the
    * production default). Bit b of the hash is bit (b mod 4) of hex
    * digit index 15 - b/4 of [[md5Digits16]], so the whole tally stays
    * in integer space.
    */
  def simhashVoteAggsMd5: Seq[Column] =
    (0 until 64).map { b =>
      val digit = col(s"__d${15 - b / 4}")
      sum(when(call_function("shiftright", digit, lit(b % 4)).bitwiseAND(1) === 1, 1L)
        .otherwise(-1L)).as(s"__v$b")
    }

  /** Pack the 64 vote columns as a 16-char lowercase hex string (MSB
    * first) instead of a signed long — bit 63 overflows a signed BIGINT
    * in engines without wrapping shifts, hex sidesteps it.
    */
  def packSimhashHex: Column =
    concat((1 to 16).map { p =>
      val dv = (0 until 4).map { i =>
        val b = (16 - p) * 4 + i
        when(col(s"__v$b") > 0, lit(1 << i)).otherwise(lit(0))
      }.reduce(_ + _)
      lit("0123456789abcdef").substr(dv + 1, lit(1))
    }: _*)

  /** MinHash signature columns over a PRE-HASHED shingle column (one
    * xxhash64 of the string, computed once): k independent min-hashes
    * derived by re-hashing the 8-byte value XOR a per-function mixing
    * constant — 32x less string hashing than seeding xxhash64(i, shingle)
    * per function, same independence. XOR (not multiply): Spark 4 runs
    * ANSI mode, where long multiplication overflow throws.
    */
  def minhashAggs(shingleHash: Column, k: Int): Seq[Column] =
    (0 until k).map { i =>
      val mix = {
        var z = i.toLong + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z ^ (z >>> 27)
      }
      min(xxhash64(shingleHash.bitwiseXOR(lit(mix)))).as(s"mh$i")
    }

  /** Deterministic pseudo-random hyperplanes in [-1, 1] via splitmix64 —
    * computed once on the driver and shipped as one literal, NOT as an
    * expression tree (a per-component hash expression would be
    * tables×bits×dims nodes and take longer to codegen than to run).
    */
  private[graft] def hyperplanes(tables: Int, bits: Int, dims: Int): Seq[Seq[Double]] = {
    def splitmix64(seed: Long): Long = {
      var z = seed + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    (0 until tables * bits).map { r =>
      (0 until dims).map { i =>
        val h = splitmix64(r.toLong * 131071 + i)
        (h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
      }
    }
  }

  /** Signed random-hyperplane LSH buckets: one packed sign-bit bucket per
    * table, as array<long> of length `tables` — native codegen expression
    * (plans.HyperplaneBuckets): one fused loop over the plane matrix, no
    * per-row intermediate arrays. Bit-identical to [[hyperplaneBucketsHof]]
    * (pinned in SimilaritySpec).
    */
  def hyperplaneBuckets(vec: Column, tables: Int, bits: Int, dims: Int): Column =
    graft.plans.HyperplaneBuckets(vec, tables, bits, dims)

  // ---- Scalar int8 quantization (the FAISS SQ8 shape) ------------------
  // Per-vector max-abs scale + symmetric 8-bit codes: 4x smaller than
  // float32, and the quantized dot product is EXACT INTEGER math — no
  // fold-order concern at all, any engine reproduces it bitwise. Codes
  // round via floor(x/scale + 0.5) (explicit, not round(): half-even vs
  // half-away ambiguity across engines disappears).

  /** Per-vector symmetric scale: max|x| / 127 (codes land in [-127, 127]). */
  def sq8Scale(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast("double")))) / lit(127.0)

  /** Quantize to long codes with the scale lambda-bound so the max-abs
    * subtree evaluates once per row, not once per element (the t43/bind1
    * HOF-inlining lesson).
    */
  def sq8Quantize(vec: Column, scale: Column): Column =
    TextFunctions.bind1(scale) { sc =>
      transform(vec, x => floor(x.cast("double") / sc + lit(0.5)).cast("long"))
    }

  /** Exact integer dot product of two code arrays. */
  def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** The higher-order-function formulation — kept for the equivalence
    * spec. Expression tree is O(1) in (tables, bits, dims) but allocates
    * intermediate arrays per row.
    */
  def hyperplaneBucketsHof(vec: Column, tables: Int, bits: Int, dims: Int): Column = {
    val perTable: Seq[Seq[Seq[Double]]] =
      hyperplanes(tables, bits, dims).grouped(bits).toSeq
    transform(typedlit(perTable), tRows =>
      aggregate(
        zip_with(tRows, sequence(lit(0), lit(bits - 1)), (row, j) =>
          when(aggregate(zip_with(vec, row, (x, y) => x.cast("double") * y),
                 lit(0.0), (acc, v) => acc + v) > 0,
            call_function("shiftleft", lit(1L), j)).otherwise(0L)),
        lit(0L), (acc, b) => acc.bitwiseOR(b)))
  }
}
