package graft.queries

/** The registry's DuckDB-oracle vocabulary. The rule: a stage that more
  * than one row computes is written once. Its oracle fragment lives here,
  * and those rows build their SQL from it instead of carrying hand
  * copies, so a fix to a fold's shape (e.g. the CAST discipline that
  * makes the dot product bit-exact) lands once instead of becoming a
  * silent oracle divergence in a missed copy; a step one oracle repeats
  * for a fixed number of rounds is one builder indexed by its round
  * (bpeMergeRound, rankRounds). The stage's Spark side is one
  * `private[queries] def` in the pack that owns the batch row (e.g.
  * Temporal.seasonalParts for w34 and a59), and a whole oracle that
  * twin rows share verbatim is one `private[queries] val` there (e.g.
  * Temporal.HoltOracleSql). A builder takes only what differs between
  * its callers (a key or order column, a round index, a SQL fragment)
  * and never branches on which row called it. Oracle text is not
  * frozen: moving a fragment here may change a row's SQL text as long
  * as DuckDB returns the same result, which `tools/oracle_same.py`
  * checks row by row; `tools/dup_windows.py` lists what is still copied.
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

  /** [[planeDots]] plus each vector's sign bucket per hash table,
    * `buck(vec_id, t, b)` with b = Σ 2^j over the planes j the vector lies
    * above (s05, s07, s16, s20, s44). */
  def planeBuckets(planes: Seq[Seq[Double]], bits: Int): String =
    s"""${planeDots(planes, bits)},
       |buck AS (
       |  SELECT vec_id, t,
       |         CAST(sum(CASE WHEN d > 0
       |                       THEN CASE j ${bitCase(bits)} ELSE 0 END
       |                       ELSE 0 END) AS BIGINT) AS b
       |  FROM dots GROUP BY 1, 2)""".stripMargin

  /** [[planeBuckets]]' rows outside every bucket holding more than `cap`
    * vectors, as `capped` (the bucket-size valve of s07, s20, s44). */
  def cappedBuckets(cap: Int): String =
    s"""big AS (SELECT t, b FROM buck GROUP BY t, b HAVING count(*) > $cap),
       |capped AS (SELECT buck.* FROM buck ANTI JOIN big USING (t, b))""".stripMargin

  /** The LSH near-dup pairs over [[cappedBuckets]] (s07, s20): every
    * distinct bucket-sharing pair vec_a < vec_b with exact cosine >= 0.35,
    * as the final SELECT. */
  def lshPairVerify(dims: Int): String =
    s"""cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM capped x JOIN capped y
       |    ON x.t = y.t AND x.b = y.b AND x.vec_id < y.vec_id),
       |cosd AS (
       |  SELECT vec_a, vec_b,
       |         ${cosineFold("a.embedding", "b.embedding", width(dims))} AS cos
       |  FROM cand JOIN embeddings a ON a.vec_id = vec_a
       |            JOIN embeddings b ON b.vec_id = vec_b)
       |SELECT vec_a, vec_b, cos FROM cosd WHERE cos >= 0.35""".stripMargin

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

  /** Each document's synthetic 32x32 image replayed from the closed-form
    * pixel formula, codec-free, as `px(doc_id, x, y, r, g, b)`: the m
    * rows' oracle contract for the engine's real PNG decode. */
  val PixelCte: String =
    """px AS (
      |  SELECT doc_id, x.x AS x, y.y AS y,
      |         (doc_id*7 + 3*x.x + 5*y.y) % 256 AS r,
      |         (doc_id*11 + x.x + 2*y.y) % 256 AS g,
      |         (doc_id*13 + 4*x.x + y.y) % 256 AS b
      |  FROM documents,
      |       LATERAL (SELECT unnest(range(32)) AS x) x,
      |       LATERAL (SELECT unnest(range(32)) AS y) y)""".stripMargin

  /** Each image's red-channel sum `s(doc_id, sr)` over [[PixelCte]]
    * (m12, st24). */
  val RedSumCtes: String =
    s"""$PixelCte,
       |s AS (SELECT doc_id, CAST(sum(r) AS BIGINT) AS sr FROM px GROUP BY 1)""".stripMargin

  /** The 9x8 dHash of each document's synthetic 32x32 image, replayed
    * from the closed-form pixel formula (m05, shared by m06): block
    * floor-means, BT.601 integer luma, one gradient bit per cell and
    * `h(doc_id, dhash)` as 16 hex chars. */
  val DhashCtes: String =
    s"""$PixelCte,
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

  /** The per-type daily series the day-axis oracles start from:
    * `d(event_type, day, …)`, one row per event type and epoch day, whose
    * last select item is `item` of the exact DECIMAL(18,4) value sum
    * (`xs`, SQL text), e.g. `xs => s"$xs AS xd"`. The Spark twin is
    * `Temporal.dailyTypeSums`. */
  def dailyTypeSumCte(item: String => String): String =
    s"""d AS (
       |  SELECT event_type,
       |         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
       |         ${item("sum(CAST(value AS DECIMAL(18,4)))")}
       |  FROM events GROUP BY 1, 2)""".stripMargin

  /** [[dailyTypeSumCte]] quantised to integer micro-units `q`, the exact
    * sums the rank and sign oracles count over. */
  val DailyTypeMicros: String = dailyTypeSumCte(xs =>
    s"""CAST(floor(CAST($xs AS DOUBLE)
       |                    * 1000000.0 + 0.5) AS BIGINT) AS q""".stripMargin)

  /** w34's additive decomposition (reduced by a59): the daily series
    * `d`, its centred ±3-day moving-average trend and dow slot `t`, the
    * detrended `t2(…, det)` and the per-dow seasonal mean
    * `s(event_type, dow, seasonal)`. The Spark twin is
    * `Temporal.seasonalParts`. */
  val SeasonalCtes: String =
    s"""${dailyTypeSumCte(xs => s"$xs AS xd")},
       |t AS (
       |  SELECT event_type, day, CAST(xd AS DOUBLE) AS x,
       |         CAST(sum(xd) OVER w AS DOUBLE) / (count(*) OVER w) AS trend,
       |         day % 7 AS dow
       |  FROM d
       |  WINDOW w AS (PARTITION BY event_type ORDER BY day
       |               RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       |t2 AS (SELECT *, x - trend AS det FROM t),
       |s AS (
       |  SELECT event_type, dow,
       |         CAST(sum(CAST(round(det, 6) AS DECIMAL(18,6))) AS DOUBLE)
       |           / count(*) AS seasonal
       |  FROM t2 GROUP BY 1, 2)""".stripMargin

  /** Page's two-sided CUSUM (w32, st14) as the recursive CTE
    * `scan(key, rn, id, ref, sp, sn, alarm, spc, snc)` over
    * `ev(key, id, x, rn)`: deviations from each key's first x
    * accumulate with slack 0.25|ref|, alarm past |ref|, and the carried
    * sides `spc`/`snc` reset after an alarm. Each side's step is written
    * once. */
  def cusumScan(key: String, id: String): String = {
    val pos = "greatest(CAST(0 AS DOUBLE), s.spc + (e.x - s.ref - 0.25 * abs(s.ref)))"
    val neg = "greatest(CAST(0 AS DOUBLE), s.snc + (s.ref - e.x - 0.25 * abs(s.ref)))"
    val alarm = s"$pos > abs(s.ref)\n           OR $neg > abs(s.ref)"
    s"""scan AS (
       |  SELECT $key, rn, $id, x AS ref,
       |         CAST(0 AS DOUBLE) AS sp, CAST(0 AS DOUBLE) AS sn, FALSE AS alarm,
       |         CAST(0 AS DOUBLE) AS spc, CAST(0 AS DOUBLE) AS snc
       |  FROM ev WHERE rn = 1
       |  UNION ALL
       |  SELECT e.$key, e.rn, e.$id, s.ref,
       |         $pos,
       |         $neg,
       |         $alarm,
       |         CASE WHEN $alarm THEN CAST(0 AS DOUBLE) ELSE $pos END,
       |         CASE WHEN $alarm THEN CAST(0 AS DOUBLE) ELSE $neg END
       |  FROM ev e JOIN scan s ON e.$key = s.$key AND e.rn = s.rn + 1)""".stripMargin
  }

  /** Customer c as the point ((c % 100)/10, ((c/100) % 100)/10), keyed
    * `key`, in the CTE `name`: the diamond rows' input (j09, w04, g04;
    * Spark twin `GeoQueries.custPoints`). */
  def diamondPoints(name: String, key: String): String =
    s"""$name AS (
       |  SELECT c_custkey AS $key,
       |         CAST(c_custkey % 100 AS DOUBLE)/10.0 AS x,
       |         fmod(CAST(c_custkey AS DOUBLE)/100.0, 100.0)/10.0 AS y
       |  FROM customer)""".stripMargin

  /** The 25-cell diamond fixture (`GeoQueries.diamonds`) as `dia(id, cx,
    * cy)` and `edges(ix, iy, jx, jy)`, plus the even-odd ray-cast test of
    * every point of `pts` as `inside(key, out)`: the first (min id)
    * containing cell. */
  def diamondInside(pts: String, key: String, out: String): String =
    s"""dia AS (
       |  SELECT CAST(a.range*5 + b.range AS INT) AS id,
       |         CAST(a.range*2 + 1 AS DOUBLE) AS cx, CAST(b.range*2 + 1 AS DOUBLE) AS cy
       |  FROM range(5) a, range(5) b),
       |edges AS (
       |  SELECT * FROM (VALUES
       |    (0.0,-1.0,-1.0,0.0),(1.0,0.0,0.0,-1.0),(0.0,1.0,1.0,0.0),(-1.0,0.0,0.0,1.0)) e(ix, iy, jx, jy)),
       |inside AS (
       |  SELECT $key, min(id) AS $out FROM (
       |    SELECT p.$key, d.id
       |    FROM $pts p, dia d, edges e
       |    WHERE ((d.cy + e.iy > p.y) != (d.cy + e.jy > p.y))
       |      AND p.x < (e.jx - e.ix) * (p.y - (d.cy + e.iy)) / (e.jy - e.iy) + (d.cx + e.ix)
       |    GROUP BY 1, 2
       |    HAVING count(*) % 2 = 1)
       |  GROUP BY 1)""".stripMargin

  /** Each point of `pts`'s clamped point-to-segment distance to the
    * boundary of each diamond `dia` cell, as `dist(key, id, ed)`;
    * `filter` is appended to the inner FROM (e.g. a WHERE limiting the
    * cells). */
  def diamondEdgeDist(pts: String, key: String, filter: String = ""): String =
    s"""dist AS (
       |  SELECT $key, id, min(sqrt((x-px)*(x-px) + (y-py)*(y-py))) AS ed FROM (
       |    SELECT p.$key, d.id, p.x, p.y,
       |           d.cx + s.x1 + t*(s.x2 - s.x1) AS px,
       |           d.cy + s.y1 + t*(s.y2 - s.y1) AS py
       |    FROM $pts p, dia d,
       |         (VALUES (-1.0,0.0,0.0,-1.0),(0.0,-1.0,1.0,0.0),
       |                 (1.0,0.0,0.0,1.0),(0.0,1.0,-1.0,0.0)) s(x1,y1,x2,y2),
       |         LATERAL (SELECT greatest(0.0, least(1.0,
       |             ((p.x-(d.cx+s.x1))*(s.x2-s.x1) + (p.y-(d.cy+s.y1))*(s.y2-s.y1))/2.0)) AS t) tt$filter)
       |  GROUP BY 1, 2)""".stripMargin

  /** j24's grid join, shared by j25: customers as integer micro-unit
    * points `p`, their 3000 u cells `c`, the 3x3 cell replicas `r`, and
    * the haversine km of every same-cell pair with `l.id <cmp> r.id` as
    * `k(<a>, <b>, km)`. The Spark twin is `GeoQueries.gridPairs`. */
  def gridKmCtes(a: String, b: String, cmp: String): String =
    s"""p AS (
       |  SELECT c_custkey AS id,
       |         3400000 + (c_custkey % 40) * 2000 AS ux,
       |         -400000 + ((c_custkey // 40) % 40) * 2000 AS uy
       |  FROM customer),
       |c AS (
       |  SELECT id, ux, uy,
       |         CAST(floor(ux / 3000.0) AS BIGINT) AS cx,
       |         CAST(floor(uy / 3000.0) AS BIGINT) AS cy
       |  FROM p),
       |r AS (
       |  SELECT id, ux, uy, cx + dx.d AS cx, cy + dy.d AS cy
       |  FROM c, (SELECT unnest([-1, 0, 1]) AS d) dx,
       |          (SELECT unnest([-1, 0, 1]) AS d) dy),
       |j AS (
       |  SELECT l.id AS $a, r.id AS $b,
       |         pow(sin(radians(r.uy / 100000.0 - l.uy / 100000.0) / 2), 2)
       |           + cos(radians(l.uy / 100000.0)) * cos(radians(r.uy / 100000.0))
       |             * pow(sin(radians(r.ux / 100000.0 - l.ux / 100000.0) / 2), 2) AS a
       |  FROM c l JOIN r ON l.cx = r.cx AND l.cy = r.cy AND l.id $cmp r.id),
       |k AS (
       |  SELECT $a, $b, 2 * 6371.0088 * atan2(sqrt(a), sqrt(1 - a)) AS km
       |  FROM j)""".stripMargin

  /** t28's URL canonicalisation over `u(doc_id, url)` (shared by g09),
    * function by function as `Web.canonicalUrl`/`Web.urlHost` do it:
    * lower-cased scheme and host without default port or `www.`, path
    * with duplicate and trailing slashes removed, sorted query params
    * without tracking ones, as `c(doc_id, dom, url_canon)`. */
  val UrlCanonCtes: String =
    """x AS (SELECT doc_id,
      |        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
      |        lower(regexp_extract(url, '^[^:]+://([^/?#]+)', 1)) AS rawhost,
      |        regexp_extract(url, '^[^:]+://[^/?#]*([^?#]*)', 1) AS rawpath,
      |        regexp_extract(url, '\?([^#]*)', 1) AS rawq
      |      FROM u),
      |y AS (SELECT doc_id, sch,
      |        regexp_replace(CASE WHEN sch = 'https' THEN regexp_replace(rawhost, ':443$', '')
      |                            WHEN sch = 'http'  THEN regexp_replace(rawhost, ':80$', '')
      |                            ELSE rawhost END, '^www\.', '') AS dom,
      |        regexp_replace(regexp_replace(rawpath, '/{2,}', '/', 'g'), '/$', '') AS pth,
      |        array_to_string(list_sort(list_filter(string_split(rawq, '&'),
      |          p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|msclkid|ref)='))), '&') AS q
      |      FROM x),
      |c AS (SELECT doc_id, dom,
      |        sch || '://' || dom || (CASE WHEN pth = '' THEN '/' ELSE pth END) ||
      |        (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS url_canon
      |      FROM y)""".stripMargin

  /** io14's CDC merge (shared by st16): the orders-derived change feed
    * `ch(c_custkey, op, bal, ordk)`, its latest change per key
    * `latest(c_custkey, op, nb)` by arg_max on `ordk`, and the full-outer
    * merge onto the customer balances as `j(k, bb, op, nb)`. The Spark
    * twin of the feed is `SinkQueries.cdcChanges`. */
  val CdcMergeCtes: String =
    """ch AS (
      |  SELECT CASE WHEN o_orderkey % 17 = 3 THEN o_custkey + 1000000
      |              ELSE o_custkey END AS c_custkey,
      |         CASE WHEN substring(md5(CAST(o_orderkey AS VARCHAR) || 'cdc'),
      |                             1, 1) = '0' THEN 'D' ELSE 'U' END AS op,
      |         o_totalprice AS bal,
      |         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |           * 100000000 + o_orderkey AS ordk
      |  FROM orders),
      |latest AS (
      |  SELECT c_custkey, arg_max(op, ordk) AS op, arg_max(bal, ordk) AS nb
      |  FROM ch GROUP BY 1),
      |j AS (
      |  SELECT coalesce(b.c_custkey, l.c_custkey) AS k,
      |         b.c_acctbal AS bb, l.op, l.nb
      |  FROM customer b FULL JOIN latest l ON b.c_custkey = l.c_custkey)""".stripMargin

  /** io03's SCD2 inputs (shared by io04): the open dimension `cur(k, seg,
    * vf, vt)` of every customer but the %11=3 "new" set, and the batch
    * `inc(k, seg)` that re-segments %7=0, re-sends %13=5 unchanged and
    * introduces the %11=3 keys. The Spark twin is
    * `SinkQueries.scd2Merged`. */
  val Scd2InputCtes: String =
    """cur AS (
      |  SELECT c_custkey AS k, c_mktsegment AS seg,
      |         DATE '2025-06-01' AS vf, CAST(NULL AS DATE) AS vt
      |  FROM customer WHERE c_custkey % 11 <> 3),
      |inc AS (
      |  SELECT c_custkey AS k,
      |         CASE WHEN c_custkey % 7 = 0 THEN c_mktsegment || '_X'
      |              ELSE c_mktsegment END AS seg
      |  FROM customer
      |  WHERE c_custkey % 7 = 0 OR c_custkey % 11 = 3 OR c_custkey % 13 = 5)""".stripMargin

  /** Each order's value in integer cents `xc` with its customer's market
    * segment, as `x(seg, okey, xc)`: the a40/a41/a46 family's input
    * (Spark twin `Analytics.segCents`). */
  val SegCentsCte: String =
    """x AS (
      |  SELECT c_mktsegment AS seg, o_orderkey AS okey,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS xc
      |  FROM orders JOIN customer ON o_custkey = c_custkey)""".stripMargin

  /** Exact per-segment moments of the integer column `v` of `from`, as
    * `g(seg, ng, s1, s2)` with s1 = Σv and s2 = Σv² in DECIMAL(38,0)
    * (Spark twin `Analytics.segMoments`). */
  def segMomentCte(from: String, v: String): String =
    s"""g AS (
       |  SELECT seg, count(*) AS ng,
       |         CAST(sum($v) AS DECIMAL(38,0)) AS s1,
       |         sum(CAST($v * $v AS DECIMAL(38,0))) AS s2
       |  FROM $from GROUP BY 1)""".stripMargin

  /** One-way ANOVA over [[segMomentCte]]' `g`: totals `t(k, n, gs1)`, the
    * per-segment between/within terms and their seg-ordered folds
    * `a(ssb, ssw)` (a40, and a46 on the median deviations; Spark twin
    * `Analytics.anovaSums`). */
  val AnovaSumCtes: String =
    s"""t AS (SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n, sum(s1) AS gs1
       |      FROM g),
       |terms AS (
       |  SELECT seg,
       |         CAST(ng AS DOUBLE)
       |           * (CAST(s1 AS DOUBLE) / ng - CAST(gs1 AS DOUBLE) / n)
       |           * (CAST(s1 AS DOUBLE) / ng - CAST(gs1 AS DOUBLE) / n) AS ssb_t,
       |         CAST(s2 AS DOUBLE)
       |           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / ng AS ssw_t
       |  FROM g, t),
       |a AS (SELECT
       |        ${sumFold("list(ssb_t ORDER BY seg)")} AS ssb,
       |        ${sumFold("list(ssw_t ORDER BY seg)")} AS ssw
       |      FROM terms)""".stripMargin

  /** The site-issue rows' inputs (g39, g43): six weekly run offsets
    * `wk(k)` and the events as `ev(event_id, d, user_id, event_type)`. */
  val IssueEventCtes: String =
    """wk AS (SELECT unnest(generate_series(0, 5)) AS k),
      |ev AS (SELECT event_id, CAST(ts AS DATE) AS d, user_id, event_type
      |       FROM events)""".stripMargin

  /** Each opened issue `op.inst`'s first resolve day, from the purchase
    * five event ids later, as `res(issue_id, resolved)`; `filter` is
    * SQL text between the join and the GROUP BY (e.g. a WHERE floor). */
  def issueResolvedCte(filter: String): String =
    s"""res AS (
       |  SELECT r.issue_id, min(r.rd) AS resolved
       |  FROM (SELECT event_id - 5 AS issue_id, d AS rd FROM ev
       |        WHERE event_type = 'purchase') r
       |  JOIN op ON r.issue_id = op.inst$filter
       |  GROUP BY 1)""".stripMargin

  /** Every issue of `iss` at each weekly run date from 2024-01-01, and its
    * state then ('closed', '15d+', '8-14d', '0-7d', or NULL before it
    * opened) as `st(run_date, <keys>, bucket)`: the oracle side of
    * `Reporting.siteIssueSnapshots`. */
  def issueStateCtes(keys: String): String =
    s"""grid AS (
       |  SELECT i.*, CAST(DATE '2024-01-01' + CAST(k*7 AS INT) AS DATE)
       |           AS run_date
       |  FROM iss i, wk),
       |st AS (
       |  SELECT run_date, $keys,
       |         CASE WHEN resolved IS NOT NULL AND resolved <= run_date
       |                THEN 'closed'
       |              WHEN opened <= run_date
       |                   AND datediff('day', opened, run_date) > 14
       |                THEN '15d+'
       |              WHEN opened <= run_date
       |                   AND datediff('day', opened, run_date) > 7
       |                THEN '8-14d'
       |              WHEN opened <= run_date THEN '0-7d'
       |              ELSE NULL END AS bucket
       |  FROM grid)""".stripMargin

  /** The md5 MinHash band keys (s13, s22): each doc's distinct word
    * bigrams `sh(doc_id, s)`, 16 signature minima `mh` over md5 hex
    * prefixes, and 4 bands of 4 as `bnd(doc_id, band, bkey)`. */
  val MinhashBandCtes: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id,
      |         unnest(list_distinct(list_transform(range(1, len(t)),
      |                                             i -> t[i] || ' ' || t[i+1]))) AS s
      |       FROM toks WHERE len(t) >= 2),
      |mh AS (SELECT doc_id, f,
      |         min(substring(md5(s || ':' || CAST(f AS VARCHAR)), 1, 16)) AS m
      |       FROM sh CROSS JOIN generate_series(0, 15) g(f) GROUP BY 1, 2),
      |bnd AS (SELECT doc_id, f // 4 AS band, string_agg(m, '|' ORDER BY f) AS bkey
      |        FROM mh GROUP BY 1, 2)""".stripMargin

  /** The exact-Jaccard verify closing [[MinhashBandCtes]]: every
    * `cand(<a>, <b>)` pair's shared-bigram count over its two bigram set
    * sizes, kept at Jaccard >= 0.3, as the final SELECT
    * (Spark twin `SimilaritySearch.jaccardAtLeast`). */
  def minhashVerify(a: String, b: String): String =
    s"""sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT c.$a, c.$b, count(*) AS i
       |          FROM cand c JOIN sh a ON a.doc_id = c.$a
       |                      JOIN sh b ON b.doc_id = c.$b AND b.s = a.s
       |          GROUP BY 1, 2)
       |SELECT $a, $b, i * 1.0 / (sa.n + sb.n - i) AS jaccard
       |FROM inter JOIN sizes sa ON $a = sa.doc_id
       |           JOIN sizes sb ON $b = sb.doc_id
       |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.3""".stripMargin

  /** g10's customer–supplier graph (shared by g22): distinct
    * customer/supplier+1e6 pairs `base`, both edge directions
    * `e(src, dst)` and out-degrees `deg(src, outdeg)` (Spark twin
    * `Goals.rankGraph`). */
  val RankGraphCtes: String =
    """base AS (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000 AS s2
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |e AS (SELECT c AS src, s2 AS dst FROM base
      |      UNION ALL SELECT s2, c FROM base),
      |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1)""".stripMargin

  /** `rounds` exact-integer PageRank rounds `i1` … `i<rounds>` over
    * [[RankGraphCtes]] from the caller's `r0(node, rank)`: each node's
    * new rank (millionths) is `teleport` (SQL over `node`) plus the
    * truncating 17/20 share of the rank flowing in along its edges. */
  def rankRounds(rounds: Int, teleport: String): String =
    (1 to rounds).map { i =>
      s"""i$i AS (SELECT node, $teleport + flow AS rank
         |       FROM (SELECT e.dst AS node,
         |                    (17 * sum(r.rank // d.outdeg)) // 20 AS flow
         |             FROM e JOIN ${if (i == 1) "r0" else s"i${i - 1}"} r ON e.src = r.node
         |               JOIN deg d ON e.src = d.src
         |             GROUP BY e.dst) t)""".stripMargin
    }.mkString(",\n")

  /** click→purchase attribution (st04, st09): every purchase within 30
    * minutes after a click by the same user, as `(imp_id, conv_id)` (Spark
    * twin `StreamingQueries.clickStreams`). */
  val ClickConversionSql: String =
    """SELECT a.event_id AS imp_id, b.event_id AS conv_id
      |FROM events a JOIN events b ON a.user_id = b.user_id
      |  AND a.event_type = 'click' AND b.event_type = 'purchase'
      |  AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE""".stripMargin

  /** j17's as-of lookup (shared by j20): each order with its customer's
    * max price on the latest earlier order date, strict ASOF LEFT; the
    * price select item is `price` over `o` and `s(k, d, prev_price)`
    * (Spark twin `Temporal.priorPrice`). */
  def asOfPriceSql(price: String): String =
    s"""WITH snap AS (
       |  SELECT o_custkey AS k, o_orderdate AS d, max(o_totalprice) AS prev_price
       |  FROM orders GROUP BY 1, 2)
       |SELECT o.o_orderkey, o.o_custkey, $price
       |FROM orders o ASOF LEFT JOIN snap s
       |  ON o.o_custkey = s.k AND o.o_orderdate > s.d""".stripMargin

  /** Degree orientation of an undirected `e(x, y)` (g13, g24): node
    * degrees `deg(node, dg)` and every edge pointed from its lower
    * (degree, id) end as `de(src, dst)`, which bounds out-degree for the
    * wedge join (Spark twin `Analytics.degreeOriented`). */
  val OrientedEdgeCtes: String =
    """deg AS (
      |  SELECT node, count(*) AS dg FROM (
      |    SELECT x AS node FROM e UNION ALL SELECT y FROM e)
      |  GROUP BY 1),
      |de AS (
      |  SELECT CASE WHEN (dx.dg, e.x) < (dy.dg, e.y) THEN e.x ELSE e.y END AS src,
      |         CASE WHEN (dx.dg, e.x) < (dy.dg, e.y) THEN e.y ELSE e.x END AS dst
      |  FROM e JOIN deg dx ON e.x = dx.node JOIN deg dy ON e.y = dy.node)""".stripMargin

  /** The two-slice rank-test inputs (w24, a34): each event's epoch-day
    * parity `slice`, and per type and value the slice-0 and slice-1
    * counts as `g(event_type, value, da, db)` (Spark twin
    * `Analytics.sliceValueCounts`). */
  val SliceValueCountCtes: String =
    """b AS (
      |  SELECT event_type, value,
      |         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 2 AS slice
      |  FROM events),
      |g AS (SELECT event_type, value,
      |             count(CASE WHEN slice = 0 THEN 1 END) AS da,
      |             count(CASE WHEN slice = 1 THEN 1 END) AS db
      |      FROM b GROUP BY 1, 2)""".stripMargin

  /** Each document's word tokens `toks(<keep>, t)` and every adjacent
    * pair as `big(<keep>, s)` = 'w1 w2', with `keep` the document columns
    * carried along (t49, t52, t55; Spark twin `TextAnalysis.wordBigrams`). */
  def wordBigramCtes(keep: String*): String = {
    val k = keep.map(_ + ", ").mkString
    s"""toks AS (SELECT ${k}string_split(text, ' ') AS t FROM documents),
       |big AS MATERIALIZED (
       |  SELECT ${k}unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS s
       |  FROM toks WHERE len(t) >= 2),
       |bc AS MATERIALIZED (
       |  SELECT split_part(s, ' ', 1) AS w1, split_part(s, ' ', 2) AS w2,
       |         count(*) AS c
       |  FROM big GROUP BY 1, 2)""".stripMargin
  }

  /** t49's interpolated Kneser-Ney bigram model (shared by t55) over
    * [[wordBigramCtes]]' counts `bc`: continuation counts `w1s`, `w2s`
    * and the bigram-type total `tot`, the CTEs [[KnProb]] reads. */
  val KnStatCtes: String =
    """w1s AS (SELECT w1, sum(c) AS cw1, count(*) AS n1fwd FROM bc GROUP BY 1),
      |w2s AS (SELECT w2, count(*) AS n1back FROM bc GROUP BY 1),
      |tot AS (SELECT count(*) AS nbt FROM bc)""".stripMargin

  /** The discount-0.75 Kneser-Ney probability of a bigram over
    * [[KnStatCtes]] (Spark twin `TextAnalysis.knProb`). */
  val KnProb: String =
    """greatest(CAST(c AS DOUBLE) - 0.75, 0.0) / CAST(cw1 AS DOUBLE)
      |             + 0.75 * CAST(n1fwd AS DOUBLE) / CAST(cw1 AS DOUBLE)
      |               * (CAST(n1back AS DOUBLE) / CAST(nbt AS DOUBLE))""".stripMargin

  /** t34's add-one bigram LM (shared by t59), trained on the
    * doc_id % 10 <> 0 slice (`train`, its bigrams `bgt`, counts `c2`,
    * prefix counts `c1`, vocabulary size `v`), and the 6 dp-rounded
    * DECIMAL log-probability of every bigram of `scored` (a table, or a
    * table with its WHERE) as `sc(<keep>, nll)` (Spark twin
    * `TextAnalysis.addOneNll`). */
  def addOneLmCtes(scored: String, keep: String*): String = {
    val k = keep.mkString(", ")
    s"""train AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
       |bgt AS (SELECT doc_id,
       |          unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
       |        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM train)
       |        WHERE len(t) >= 2),
       |bgs AS (SELECT $k,
       |          unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
       |        FROM (SELECT $k, string_split(text, ' ') AS t FROM $scored)
       |        WHERE len(t) >= 2),
       |c2 AS (SELECT bg, count(*) AS c2 FROM bgt GROUP BY 1),
       |c1 AS (SELECT string_split(bg, ' ')[1] AS prev, sum(c2) AS c1
       |       FROM c2 GROUP BY 1),
       |v AS (SELECT count(DISTINCT tk) AS v FROM
       |        (SELECT unnest(string_split(text, ' ')) AS tk FROM train)),
       |sc AS (SELECT ${keep.map("s." + _).mkString(", ")},
       |         CAST(round(ln((coalesce(c2.c2, 0) + 1.0)
       |                       / (coalesce(c1.c1, 0) + v.v)), 6)
       |              AS DECIMAL(18,6)) AS nll
       |       FROM bgs s LEFT JOIN c2 ON s.bg = c2.bg
       |         LEFT JOIN c1 ON string_split(s.bg, ' ')[1] = c1.prev
       |         CROSS JOIN v)""".stripMargin
  }

  /** BPE merge round `i` of t26 over `d<i-1>(doc_id, t)`: the most
    * frequent adjacent pair `p<i>(l, r)` (ties to the smaller l, r), its
    * non-overlapping left-to-right occurrences (`e`, `w`, `k`, `o`
    * CTEs), and the merged token lists as `d<i>(doc_id, t)`. */
  def bpeMergeRound(i: Int): String =
    s"""p$i AS (SELECT p[1] AS l, p[2] AS r FROM (
       |   SELECT unnest(list_transform(range(1, len(t)), i -> [t[i], t[i+1]])) AS p
       |   FROM d${i - 1})
       |   GROUP BY 1, 2 ORDER BY count(*) DESC, l, r LIMIT 1),
       |e$i AS (SELECT doc_id, i, t[i] AS x,
       |        coalesce(t[i] = p$i.l AND t[i+1] = p$i.r, false) AS c,
       |        p$i.l AS l, p$i.r AS r
       |  FROM (SELECT doc_id, unnest(range(1, len(t)+1)) AS i, t FROM d${i - 1}), p$i),
       |w$i AS (SELECT *, CASE WHEN c THEN i - row_number()
       |            OVER (PARTITION BY doc_id, c ORDER BY i) END AS isl
       |  FROM e$i),
       |k$i AS (SELECT *, CASE WHEN c THEN row_number()
       |            OVER (PARTITION BY doc_id, isl ORDER BY i) % 2 = 1
       |           ELSE false END AS taken
       |  FROM w$i),
       |o$i AS (SELECT doc_id, i,
       |        CASE WHEN taken THEN l || '+' || r
       |             WHEN lag(taken, 1, false) OVER (PARTITION BY doc_id ORDER BY i)
       |               THEN NULL
       |             ELSE x END AS tok
       |  FROM k$i),
       |d$i AS (SELECT doc_id, list(tok ORDER BY i) AS t
       |  FROM o$i WHERE tok IS NOT NULL GROUP BY doc_id)""".stripMargin

  /** Each document's distinct word trigrams 'w1 w2 w3' as `sh(doc_id,
    * s)` (t14, t19, t27, t31, t57). */
  val DocTrigramCte: String =
    """sh AS (
      |  SELECT doc_id,
      |         unnest(list_distinct(list_transform(range(1, len(t) - 1),
      |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 3)""".stripMargin

  /** Each user's events numbered in (ts, event_id) order as
    * `ev(user_id, event_id, value, rn)`: the per-user recurrences' step
    * index (w18, w29/st13, w36/st17). */
  val UserStepsCte: String =
    """ev AS (
      |  SELECT user_id, event_id, value,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events)""".stripMargin

  /** io21's published versions (shared by io24): orders over 50000 as
    * `v1(o_orderkey, pri, bkt, cents)` in `buckets` key buckets per
    * priority, and `v2` with the %97=0 rows deleted and the %89=1 rows
    * bumped one cent. */
  def publishedVersionCtes(buckets: Int): String =
    s"""v1 AS (
       |  SELECT o_orderkey, o_orderpriority AS pri, o_orderkey % $buckets AS bkt,
       |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders WHERE o_totalprice > 50000),
       |v2 AS (
       |  SELECT o_orderkey, pri, bkt,
       |         CASE WHEN o_orderkey % 89 = 1 THEN cents + 1 ELSE cents END AS cents
       |  FROM v1 WHERE o_orderkey % 97 <> 0)""".stripMargin

  /** `CASE j WHEN 0 THEN 1 … END` packing a sign bit j into 2^j. */
  def bitCase(bits: Int): String =
    (0 until bits).map(j => s"WHEN $j THEN ${1L << j}").mkString(" ")
}
