package graft.queries

/** The registry's DuckDB-oracle vocabulary. The rule: an oracle
  * fragment used by more than one row lives here, and those rows build
  * their SQL from it instead of carrying hand copies, so a fix to a
  * fold's shape (e.g. the CAST discipline that makes the dot product
  * bit-exact) lands once instead of becoming a silent oracle divergence
  * in a missed copy. A whole oracle that twin rows share verbatim is one
  * `private[queries] val` in the pack that owns the batch row (e.g.
  * Temporal.HoltOracleSql). Oracle text is not frozen: moving a fragment
  * here may change a row's SQL text as long as DuckDB returns the same
  * result, which `tools/oracle_same.py` checks row by row.
  *
  * Every fragment here is margin-free text: no line starts with `|`, so a
  * caller can splice it into its own `stripMargin` string.
  */
private[queries] object OracleSnippets {

  /** `(r, [v1, v2, …])` VALUES rows for a seeded plane/centroid matrix
    * (shortest-roundtrip double literals re-parse to identical bits). */
  def matrixValues(rows: Seq[Seq[Double]]): String =
    rows.zipWithIndex
      .map { case (p, r) => s"($r, [${p.mkString(", ")}])" }
      .mkString(",\n        ")

  /** Strict in-order left fold of a SQL list: `step` applied to `zero`
    * and each element in list order. DuckDB's list_reduce takes no
    * initial value, so the seed is prepended (this also makes an empty
    * list fold to `zero`). */
  def foldLeft(zero: String, list: String, step: String): String =
    s"list_reduce(list_prepend($zero, $list), $step)"

  /** `0.0 + x1 + x2 + …` in DOUBLE, in list order: the one summation
    * order every exact vector and per-group oracle fold uses. */
  def sumFold(list: String): String =
    foldLeft("CAST(0.0 AS DOUBLE)", list, "(a, x) -> a + x")

  /** [[sumFold]] of `term` (over `i`) for i in `range(1, end)`; `end`
    * is SQL text, e.g. `65` or `len(v) + 1`. */
  def sumOver(end: String, term: String): String =
    sumFold(s"list_transform(range(1, $end), i -> $term)")

  /** A vector fold's exclusive range end as SQL text, given the vector
    * being folded (the first one for a two-vector fold). */
  type End = String => String

  /** A fixed width: `range(1, dims + 1)` whatever the vector. */
  def width(dims: Int): End = _ => s"${dims + 1}"

  /** The folded vector's own length: `range(1, len(v) + 1)`. */
  val ownLen: End = v => s"len($v) + 1"

  /** Strict in-order dot-product fold of `a[i] * b[i]`, both sides
    * widened to DOUBLE (exact for FLOAT and DOUBLE elements). */
  def dotFold(a: String, b: String, end: End): String =
    sumOver(end(a), s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)")

  /** Strict in-order squared-distance fold of `vec` against `cent`. */
  def dist2Fold(vec: String, cent: String, end: End): String =
    sumOver(end(vec),
      s"(CAST($vec[i] AS DOUBLE) - CAST($cent[i] AS DOUBLE)) " +
        s"* (CAST($vec[i] AS DOUBLE) - CAST($cent[i] AS DOUBLE))")

  /** Exact cosine between two embedding columns: the dot fold over the
    * product of the two norm folds — the op order every vector oracle
    * in the registry uses (bit-parity with Similarity.dot/l2norm). */
  def cosineFold(a: String, b: String, end: End): String =
    s"""${dotFold(a, b, end)}
       |         / (sqrt(${dotFold(a, a, end)})
       |            * sqrt(${dotFold(b, b, end)}))""".stripMargin

  /** The IVF oracles' literal centroid table and every vector's squared
    * distance to each centroid, as two CTEs
    * `cents(cell_id, c) AS (VALUES …), dist(vec_id, cell_id, d)` over the
    * `embedding` column of `from`. The caller opens the WITH and adds
    * its own assignment, probe and candidate CTEs after these. */
  def ivfCentsDist(cents: Seq[Seq[Double]],
                   from: String = "embeddings"): String =
    s"""cents(cell_id, c) AS (VALUES
       |        ${matrixValues(cents)}),
       |dist AS (
       |  SELECT vec_id, cell_id,
       |         ${dist2Fold("embedding", "c", width(cents.head.size))} AS d
       |  FROM $from CROSS JOIN cents)""".stripMargin

  /** The s54/s55 maintenance family's shared oracle CTEs: IVF cell
    * assignment against the first-8-vector centroids (relational — no
    * literal matrix), the per-cell tombstone counts, the live-member
    * quantized centroid sums (the s45 exact-sum device), the L2 drift
    * fold, and the rebuild/compact/keep DECISION. One definition feeds
    * both the decision row (s54) and the actuation row (s55), so the
    * two oracles cannot drift.
    */
  val AnnMaintCtes: String =
    s"""cents AS (
      |  SELECT vec_id AS cell_id, embedding AS c FROM embeddings
      |  WHERE vec_id < 8),
      |dist AS (
      |  SELECT vec_id, cell_id,
      |         ${dist2Fold("embedding", "c", width(64))} AS d
      |  FROM embeddings CROSS JOIN cents),
      |assigned AS (SELECT vec_id, cell_id FROM (
      |  SELECT vec_id, cell_id,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY d, cell_id) AS rn
      |  FROM dist) WHERE rn = 1),
      |cnt AS (
      |  SELECT cell_id, count(*) AS n_total,
      |         sum(CASE WHEN vec_id % 7 = 3 THEN 1 ELSE 0 END) AS n_tomb
      |  FROM assigned GROUP BY 1),
      |live AS (
      |  SELECT a.cell_id, e.embedding
      |  FROM assigned a JOIN embeddings e USING (vec_id)
      |  WHERE a.vec_id % 7 <> 3),
      |base AS (
      |  SELECT cell_id, r.range - 1 AS dim,
      |         CAST(floor(CAST(embedding[r.range] AS DOUBLE) * 1000000.0
      |                    + 0.5) AS BIGINT) AS q
      |  FROM live CROSS JOIN range(1, 65) r),
      |sums AS (SELECT cell_id, dim, sum(q) AS sq, count(*) AS nl
      |         FROM base GROUP BY 1, 2),
      |m AS (SELECT cell_id, dim, CAST(sq AS DOUBLE) / 1000000.0 / nl AS m
      |      FROM sums),
      |f AS (SELECT m.cell_id,
      |        ${sumFold("list((m - CAST(c[dim+1] AS DOUBLE))"
                           + " * (m - CAST(c[dim+1] AS DOUBLE)) ORDER BY dim)")} AS l2q
      |      FROM m JOIN cents ON m.cell_id = cents.cell_id GROUP BY 1),
      |dec AS (
      |  SELECT c.cell_id, CAST(n_total AS BIGINT) AS n_total,
      |         CAST(n_tomb AS BIGINT) AS n_tomb,
      |         CAST(n_tomb AS DOUBLE) / n_total AS tomb_frac,
      |         sqrt(l2q) AS l2_shift,
      |         CASE WHEN sqrt(l2q) > 0.825 THEN 'rebuild'
      |              WHEN CAST(n_tomb AS DOUBLE) / n_total > 0.15 THEN 'compact'
      |              ELSE 'keep' END AS decision
      |  FROM cnt c JOIN f USING (cell_id))""".stripMargin

  /** The LSH oracles' literal hyperplane table and every vector's dot
    * with each plane, as two CTEs `planes(r, p) AS (VALUES …)` and
    * `dots(vec_id, t, j, d)`: plane r is sign bit j = r % bits of hash
    * table t = r / bits. */
  def planeDots(planes: Seq[Seq[Double]], bits: Int): String =
    s"""planes(r, p) AS (VALUES
       |        ${matrixValues(planes)}),
       |dots AS (
       |  SELECT vec_id, r // $bits AS t, r % $bits AS j,
       |         ${dotFold("embedding", "p", width(planes.head.size))} AS d
       |  FROM embeddings CROSS JOIN planes)""".stripMargin

  /** The g rows' co-supplier graph, the oracle twin of
    * `Analytics.coSupplierEdges(s, d, salt)`: distinct supplier pairs
    * sharing an order (`pair`), md5-sampled to ~1/16 by `salt` into the
    * `edges` CTE of (x, y) with x < y. `as` is `AS` or
    * `AS MATERIALIZED`. */
  def coSupplierEdgeCtes(salt: String, edges: String = "e",
                         as: String = "AS"): String =
    s"""pair $as (
       |  SELECT DISTINCT a.l_suppkey AS x, b.l_suppkey AS y
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
       |$edges $as (
       |  SELECT x, y FROM pair
       |  WHERE substring(md5(CAST(x AS VARCHAR) || '_' || CAST(y AS VARCHAR) || '$salt'), 1, 1) = '0')""".stripMargin

  /** The exact word-bigram Jaccard inputs over documents with
    * doc_id < 300 (t06's bounded slice): `toks`, each doc's distinct
    * bigram shingles `sh`, per-doc shingle counts `sizes(doc_id, n)`
    * and per-pair intersection counts `inter(doc_a, doc_b, i)`,
    * doc_a < doc_b. */
  val BigramOverlapCtes: String =
    """toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 300
      |), sh AS (
      |  SELECT doc_id,
      |         unnest(list_distinct(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))) AS s
      |  FROM toks WHERE len(t) >= 2
      |), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** The near-dup graph walk over [[BigramOverlapCtes]]: the pairs at
    * Jaccard >= 0.3 as undirected `edges(src, dst)` and `reach(id, r)`,
    * every node r reaches id from (min(r) per id is its component).
    * The caller's WITH must be RECURSIVE. */
  val NearDupReachCtes: String =
    s"""$BigramOverlapCtes,
       |pairs AS (
       |  SELECT doc_a, doc_b FROM inter
       |  JOIN sizes sa ON doc_a = sa.doc_id
       |  JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.3),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)""".stripMargin

  /** Okapi BM25 (k1 = 1.2, b = 0.75) of every document for the literal
    * query 'spark vector window customer': per-doc term counts `d`,
    * corpus statistics `st` and the 6 dp-rounded `score` per doc_id in
    * a CTE named `scores`. */
  def bm25Ctes(scores: String): String =
    s"""d AS (
       |  SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl,
       |         CAST(len(list_filter(t, x -> x = 'spark')) AS DOUBLE) AS tf1,
       |         CAST(len(list_filter(t, x -> x = 'vector')) AS DOUBLE) AS tf2,
       |         CAST(len(list_filter(t, x -> x = 'window')) AS DOUBLE) AS tf3,
       |         CAST(len(list_filter(t, x -> x = 'customer')) AS DOUBLE) AS tf4
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
       |st AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
       |         CAST(count(CASE WHEN tf1 > 0 THEN 1 END) AS DOUBLE) AS df1,
       |         CAST(count(CASE WHEN tf2 > 0 THEN 1 END) AS DOUBLE) AS df2,
       |         CAST(count(CASE WHEN tf3 > 0 THEN 1 END) AS DOUBLE) AS df3,
       |         CAST(count(CASE WHEN tf4 > 0 THEN 1 END) AS DOUBLE) AS df4
       |  FROM d),
       |$scores AS (
       |  SELECT doc_id, round(
       |      ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * (tf1 * 2.2)
       |        / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
       |    + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * (tf2 * 2.2)
       |        / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
       |    + ln((n - df3 + 0.5) / (df3 + 0.5) + 1.0) * (tf3 * 2.2)
       |        / (tf3 + 1.2 * (0.25 + 0.75 * dl / avgdl))
       |    + ln((n - df4 + 0.5) / (df4 + 0.5) + 1.0) * (tf4 * 2.2)
       |        / (tf4 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS score
       |  FROM d, st)""".stripMargin

  /** md5 SimHash digit votes (s04's token hash, shared by s12): per
    * doc the 64 bit votes `v` over each token's md5 and the packed hex
    * digit values `d(doc_id, dpos, dv)`, digit 0 the least significant. */
  val SimhashDigitCtes: String =
    """tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
      |             FROM documents),
      |h AS (SELECT doc_id, md5(t) AS h FROM tok),
      |v AS (SELECT doc_id, bit,
      |        sum(CASE WHEN (strpos('0123456789abcdef',
      |                              substring(h, 16 - bit // 4, 1)) - 1)
      |                 // (CASE bit % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
      |                     WHEN 2 THEN 4 ELSE 8 END) % 2 = 1
      |            THEN 1 ELSE -1 END) AS vote
      |      FROM h CROSS JOIN generate_series(0, 63) g(bit)
      |      GROUP BY 1, 2),
      |d AS (SELECT doc_id, bit // 4 AS dpos,
      |        sum(CASE WHEN vote > 0 THEN
      |              CASE bit % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
      |                   WHEN 2 THEN 4 ELSE 8 END
      |            ELSE 0 END) AS dv
      |      FROM v GROUP BY 1, 2)""".stripMargin

  /** The 9x8 dHash of each document's synthetic 32x32 image, replayed
    * from the closed-form pixel formula (m05, shared by m06): block
    * floor-means, BT.601 integer luma, one gradient bit per cell and
    * `h(doc_id, dhash)` as 16 hex chars. */
  val DhashCtes: String =
    """px AS (
      |  SELECT doc_id, x.x AS x, y.y AS y,
      |         (doc_id*7 + 3*x.x + 5*y.y) % 256 AS r,
      |         (doc_id*11 + x.x + 2*y.y) % 256 AS g,
      |         (doc_id*13 + 4*x.x + y.y) % 256 AS b
      |  FROM documents,
      |       LATERAL (SELECT unnest(range(32)) AS x) x,
      |       LATERAL (SELECT unnest(range(32)) AS y) y),
      |cells AS (
      |  SELECT doc_id, i.i AS i, j.j AS j,
      |         CAST(sum(r) // count(*) AS BIGINT) AS rm,
      |         CAST(sum(g) // count(*) AS BIGINT) AS gm,
      |         CAST(sum(b) // count(*) AS BIGINT) AS bm
      |  FROM px,
      |       LATERAL (SELECT unnest(range(9)) AS i) i,
      |       LATERAL (SELECT unnest(range(8)) AS j) j
      |  WHERE x >= (i*32)//9 AND x < ((i+1)*32)//9
      |    AND y >= j*4 AND y < (j+1)*4
      |  GROUP BY 1, 2, 3),
      |gr AS (SELECT doc_id, i, j,
      |              (rm*299 + gm*587 + bm*114) // 1000 AS lum FROM cells),
      |rb AS (SELECT a.doc_id, a.j,
      |         CAST(sum(CASE WHEN a.lum > b.lum
      |                       THEN (CAST(1 AS BIGINT) << a.i) ELSE 0 END)
      |              AS BIGINT) AS rowbyte
      |       FROM gr a JOIN gr b
      |         ON a.doc_id = b.doc_id AND a.j = b.j AND b.i = a.i + 1
      |       WHERE a.i < 8
      |       GROUP BY 1, 2),
      |h AS (SELECT doc_id, string_agg(printf('%02x', rowbyte), '' ORDER BY j)
      |             AS dhash
      |      FROM rb GROUP BY 1)""".stripMargin

  /** `CASE j WHEN 0 THEN 1 … END` packing a sign bit j into 2^j. */
  def bitCase(bits: Int): String =
    (0 until bits).map(j => s"WHEN $j THEN ${1L << j}").mkString(" ")
}
