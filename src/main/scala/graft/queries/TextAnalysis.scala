package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Materialize, Query, Tables}
import graft.functions.TextFunctions._
import OracleSnippets.{KnProb, KnStatCtes, addOneLmCtes, wordBigramCtes}

/** Text-analysis operators over the documents table: token counting,
  * quality scoring, language ID, fingerprinting, exact dedup, and exact
  * n-gram Jaccard near-dup detection.
  *
  * Every query here has a full SQL oracle: the implementations avoid
  * engine-specific hashes and libm so the same integer/IEEE arithmetic
  * runs on both sides.
  *
  * Scale notes: all single-doc features are narrow projections. The
  * near-dup query is the exact (quadratic-in-matches) baseline — its
  * shuffle is one explode + equi-join on the shingle; the MinHash/LSH
  * variant in the Similarity pack is the subquadratic scale path.
  */
object TextAnalysis {

  // t20/t41 run their hashed-key production variants BY DEFAULT (round-9
  // flip of the round-8 SPARK_GRAFT_HASHED_GRAMS flag): gram/window
  // STRINGS hash to 8-byte keys map-side, so the exchange moves 8 bytes
  // instead of the text — the 100 TB form (results identical modulo
  // 64-bit collisions; HashedGramTwinSpec pins string ≡ hashed on real
  // data). The string/md5 forms stay in the gate as separate oracle-twin
  // rows (t45/t46 — the s03↔s13 precedent).

  private val stop = Seq("the", "a", "of", "and", "in")
  private val markerLists = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "la", "de", "y"),
    "de" -> Seq("der", "die", "das", "und"))

  /** Dialect-shared messy-URL fixture (parses as both Spark SQL and DuckDB
    * SQL): 2·3·5·4 messiness variants per (source, item) that all
    * canonicalize to the same URL. Interpolated into t28's oracle with $$
    * escaping for the regex anchors. */
  private val UrlFixtureSql: String =
    """'HtTpS://WWW.' || source || '.Example.COM' ||
      |CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END ||
      |'/Alpha' || CASE WHEN doc_id % 5 = 0 THEN '//' ELSE '/' END ||
      |'Item-' || CAST(doc_id % 7 AS STRING) ||
      |CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
      |CASE WHEN doc_id % 4 = 0 THEN '?b=2&utm_source=feed&a=1'
      |     WHEN doc_id % 4 = 1 THEN '?a=1&b=2&gclid=XyZ123'
      |     WHEN doc_id % 4 = 2 THEN '?b=2&a=1#frag'
      |     ELSE '?a=1&ref=home&b=2' END""".stripMargin.replace("\n", " ")

  /** g09's variant of the URL fixture: the item id is doc_id rounded
    * down to even (dialect-shared arithmetic — no integer-division
    * operator differences), so every two adjacent docs collide on one
    * canonical URL and the keep-first stage scales WITH the corpus
    * instead of collapsing to the fixture's 140 static URLs. */
  private val G09UrlSql: String =
    UrlFixtureSql.replace("CAST(doc_id % 7 AS STRING)",
      "CAST(doc_id - doc_id % 2 AS STRING)")

  /** t56's tag dictionary — one definition drives the engine's inline
    * dimension table and the oracle's VALUES list. */
  private val TagDict: Seq[(String, String)] = Seq(
    "compute" -> "scan", "compute" -> "hash", "compute" -> "merge",
    "compute" -> "join", "compute" -> "agg",
    "engine" -> "spark", "engine" -> "table", "engine" -> "row",
    "engine" -> "column", "engine" -> "query",
    "perf" -> "slow", "perf" -> "fast", "perf" -> "small",
    "perf" -> "batch", "perf" -> "filter")

  /** Every adjacent word pair of each document as `(<keep>, w1, w2)`
    * (t49, t52, t55; oracle twin `OracleSnippets.wordBigramCtes`). */
  private[queries] def wordBigrams(s: SparkSession, d: String, keep: String*): DataFrame = {
    val t = tokens(col("text"))
    Tables.documents(s, d)
      .select(keep.map(col) :+ explode(bind1(t) { tt =>
        when(size(tt) >= 2, transform(sequence(lit(0), size(tt) - 2),
          (i: Column) => struct(
            element_at(tt, i + 1).as("w1"), element_at(tt, i + 2).as("w2"))))
          .otherwise(array())
      }).as("bg"): _*)
      .select(keep.map(col) :+ col("bg.w1").as("w1") :+ col("bg.w2").as("w2"): _*)
  }

  /** t49's Kneser-Ney inputs (shared by t55): the bigram counts `c` of
    * `big(w1, w2)` with c >= 5, joined to their continuation counts and
    * the bigram-type total that [[knProb]] reads (oracle twin
    * `OracleSnippets.KnStatCtes`). */
  private[queries] def knScored(big: DataFrame): DataFrame = {
    // 4 downstream aggs share the one bigram count; it grows with the corpus
    val bc = Materialize.pin(big.groupBy("w1", "w2").agg(count(lit(1)).as("c")))
    val w1s = bc.groupBy("w1").agg(sum("c").as("cw1"), count(lit(1)).as("n1fwd"))
    val w2s = bc.groupBy("w2").agg(count(lit(1)).as("n1back"))
    val tot = bc.agg(count(lit(1)).as("nbt"))
    bc.filter(col("c") >= 5)
      .join(w1s, "w1").join(w2s, "w2").crossJoin(broadcast(tot))
  }

  /** The discount-0.75 Kneser-Ney bigram probability over [[knScored]]
    * (oracle twin `OracleSnippets.KnProb`). */
  private[queries] def knProb: Column =
    greatest(col("c").cast("double") - lit(0.75), lit(0.0)) / col("cw1").cast("double") +
      lit(0.75) * col("n1fwd").cast("double") / col("cw1").cast("double") *
        (col("n1back").cast("double") / col("nbt").cast("double"))

  /** t34's add-one bigram LM (shared by t59), trained on the
    * doc_id % 10 != 0 slice, applied to every bigram of `scored` as
    * `(bg, prev, <keep>, …, nll)` with `nll` the 6 dp-rounded DECIMAL
    * log-probability (oracle twin `OracleSnippets.addOneLmCtes`). */
  private[queries] def addOneNll(s: SparkSession, d: String, scored: DataFrame,
                                 keep: Column*): DataFrame = {
    val train = Tables.documents(s, d).filter(col("doc_id") % 10 =!= 0)
    def bigramsOf(df: DataFrame, cols: Column*) =
      df.select(cols :+ explode(adjacentPairs(col("text"))).as("bg"): _*)
    val c2 = bigramsOf(train, col("doc_id")).groupBy("bg")
      .agg(count(lit(1)).as("c2"))
    val c1 = c2
      .select(split(col("bg"), " ").getItem(0).as("prev"), col("c2"))
      .groupBy("prev").agg(sum(col("c2")).as("c1"))
    val vDf = train.select(explode(tokens(col("text"))).as("tk"))
      .agg(count_distinct(col("tk")).as("v"))
    bigramsOf(scored, keep: _*)
      .withColumn("prev", split(col("bg"), " ").getItem(0))
      .join(c2, Seq("bg"), "left")
      .join(c1, Seq("prev"), "left")
      .crossJoin(broadcast(vDf))
      .withColumn("nll",
        round(log((coalesce(col("c2"), lit(0)) + lit(1.0))
          / (coalesce(col("c1"), lit(0)) + col("v"))), 6)
          .cast("decimal(18,6)"))
  }

  val queries: Seq[Query] = Seq(

    // ---- T56: dictionary keyword tagging (FlashText-style) -----------------
    // Corpus tagging against a curated keyword taxonomy — the topic/PII
    // routing stage of a curation pipeline. The FlashText insight,
    // Spark-first: tokenize once and hash-JOIN the broadcast dictionary
    // (exact-token lookup — O(tokens), independent of dictionary size),
    // never N substring scans per keyword; substring counting would also
    // overhit ('a' inside every word) and undercount adjacent repeats
    // under replace-based arithmetic. Per-doc counts pivot to one column
    // per category; the dominant tag breaks ties alphabetically by the
    // fixed CASE order, and all-miss docs keep a NULL tag (left join).
    // Phrases extend by joining on bigrams; single-token dict here.
    Query("t56_keyword_tagging", {
      val vals = TagDict.map { case (c, k) => s"('$c', '$k')" }.mkString(", ")
      s"""WITH dict(cat, kw) AS (VALUES $vals),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents),
        |hits AS (SELECT doc_id, cat, count(*) AS n
        |         FROM tok JOIN dict ON tok = kw GROUP BY 1, 2),
        |wide AS (
        |  SELECT d.doc_id,
        |         coalesce(min(CASE WHEN cat = 'compute' THEN n END), 0) AS n_compute,
        |         coalesce(min(CASE WHEN cat = 'engine' THEN n END), 0) AS n_engine,
        |         coalesce(min(CASE WHEN cat = 'perf' THEN n END), 0) AS n_perf
        |  FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
        |  GROUP BY 1)
        |SELECT doc_id, n_compute, n_engine, n_perf,
        |       CASE WHEN n_compute + n_engine + n_perf = 0 THEN NULL
        |            WHEN n_compute >= n_engine AND n_compute >= n_perf THEN 'compute'
        |            WHEN n_engine >= n_perf THEN 'engine'
        |            ELSE 'perf' END AS top_category
        |FROM wide""".stripMargin
    }) {
      (s, d) => {
        import s.implicits._
        val dict = TagDict.toDF("cat", "kw")
        val docs = Tables.documents(s, d)
        val hits = docs.select(col("doc_id"),
            explode(split(col("text"), " ")).as("tok"))
          .join(broadcast(dict), col("tok") === col("kw"))
          .groupBy("doc_id", "cat").agg(count(lit(1)).as("n"))
        val wide = docs.select("doc_id")
          .join(hits, Seq("doc_id"), "left")
          .groupBy("doc_id")
          .agg(coalesce(min(when(col("cat") === "compute", col("n"))), lit(0L))
              .as("n_compute"),
            coalesce(min(when(col("cat") === "engine", col("n"))), lit(0L))
              .as("n_engine"),
            coalesce(min(when(col("cat") === "perf", col("n"))), lit(0L))
              .as("n_perf"))
        wide.select(col("doc_id"), col("n_compute"), col("n_engine"),
          col("n_perf"),
          when(col("n_compute") + col("n_engine") + col("n_perf") === 0,
            lit(null).cast("string"))
            .when(col("n_compute") >= col("n_engine")
              && col("n_compute") >= col("n_perf"), "compute")
            .when(col("n_engine") >= col("n_perf"), "engine")
            .otherwise("perf").as("top_category"))
      }
    },

    // ---- T57: per-document novelty scoring (dedup-aware data ordering) -------
    // What fraction of each doc's 3-gram shingles appears here FIRST
    // (by doc_id order)? The curriculum/ordering signal that prices how
    // much new n-gram mass each document adds to the corpus — near-dups
    // of earlier docs score ~0, genuinely fresh text scores ~1 (the
    // corpus-level complement of t31's pairwise duplicate coverage).
    // Shape (VERDICT r11 item 4): the round-11 WINDOW-min form was the
    // corpus's worst skew case (windows have no partial aggregation, so
    // a hot shingle's whole block sorts in ONE task — 4.3 s @10× →
    // 24.0 s @100×). First-seen needs no join-back at all: per-doc
    // novel counts are a count over the per-shingle argmin table
    // (group min(doc_id) by shingle — map-side combined, so a hot
    // shingle shrinks to one row per input partition BEFORE the
    // exchange — then count by first_doc), and the final join is
    // doc-cardinality x doc-cardinality on doc_id. Every stage partial-
    // aggregates; nothing data-sized shuffles on the skewed key.
    Query("t57_doc_novelty",
      s"""WITH ${OracleSnippets.DocTrigramCte},
        |w AS (SELECT doc_id, s, min(doc_id) OVER (PARTITION BY s) AS first_doc
        |      FROM sh)
        |SELECT doc_id, count(*) AS n_shingles,
        |       count(CASE WHEN first_doc = doc_id THEN 1 END) AS n_novel,
        |       CAST(count(CASE WHEN first_doc = doc_id THEN 1 END) AS DOUBLE)
        |         / count(*) AS novelty
        |FROM w GROUP BY 1""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        // per-doc denominators need NO explode at all: shingles() is
        // per-doc distinct, so the count is the array size (narrow map;
        // the len<3 filter mirrors the oracle's sh CTE exclusion)
        val perDoc = docs.select(col("doc_id"),
            size(shingles(col("text"), 3)).cast("long").as("n_shingles"))
          .filter(col("n_shingles") >= 1)
        val novel = docs
          .select(col("doc_id"), explode(shingles(col("text"), 3)).as("s"))
          .groupBy("s").agg(min("doc_id").as("first_doc"))
          .groupBy(col("first_doc").as("doc_id"))
          .agg(count(lit(1)).as("n_novel"))
        perDoc.join(novel, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_shingles"),
            coalesce(col("n_novel"), lit(0L)).as("n_novel"),
            (coalesce(col("n_novel"), lit(0L)).cast("double")
              / col("n_shingles")).as("novelty"))
      }
    },

    // ---- T1: token counting (whitespace + regex/BPE-ish) ------------------
    Query("t01_token_count",
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS INT)
        |         AS n_retokens
        |FROM documents""".stripMargin) {
      (s, d) => Tables.documents(s, d).select(col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        regexTokenCount(col("text")).as("n_retokens"))
    },

    // ---- T2: quality scoring ---------------------------------------------
    Query("t02_quality_score",
      s"""SELECT doc_id, n_chars,
         |  CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
         |    / CAST(length(text) AS DOUBLE) AS punct_ratio,
         |  CAST(len(list_filter(string_split(text, ' '),
         |                       t -> t IN (${stop.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)
         |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
         |  CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS DOUBLE)
         |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_wlen
         |FROM documents""".stripMargin) {
      (s, d) => Tables.documents(s, d).select(col("doc_id"), col("n_chars"),
        punctRatio(col("text")).as("punct_ratio"),
        stopwordRatio(col("text"), stop).as("stop_ratio"),
        meanWordLen(col("text")).as("mean_wlen"))
    },

    // ---- T3: language ID (stopword-vote heuristic) -------------------------
    Query("t03_lang_id",
      """SELECT doc_id,
        |  CASE WHEN en >= es AND en >= de THEN 'en'
        |       WHEN es >= de THEN 'es' ELSE 'de' END AS pred_lang
        |FROM (SELECT doc_id,
        |        len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and'))) AS en,
        |        len(list_filter(string_split(text, ' '), t -> t IN ('el','la','de','y'))) AS es,
        |        len(list_filter(string_split(text, ' '), t -> t IN ('der','die','das','und'))) AS de
        |      FROM documents)""".stripMargin) {
      (s, d) => Tables.documents(s, d).select(col("doc_id"),
        langId(col("text"), markerLists).as("pred_lang"))
    },

    // ---- T4: document fingerprint (rolling hash) ----------------------------
    Query("t04_fingerprint",
      s"""SELECT doc_id,
        |  ${OracleSnippets.foldLeft("CAST(7 AS BIGINT)",
                "list_transform(string_split(text, ' '), t -> CAST(length(t) * 131"
                  + " + ascii(substring(t, 1, 1)) AS BIGINT))",
                "(a, h) -> (a * 31 + h) % 1000003")} AS fp
        |FROM documents""".stripMargin) {
      (s, d) => Tables.documents(s, d).select(col("doc_id"),
        fingerprint(col("text")).as("fp"))
    },

    // ---- T5: exact dedup by content hash ------------------------------------
    Query("t05_dedup_exact",
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin) {
      (s, d) => graft.operators.Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text")
    },

    // ---- T6: exact n-gram Jaccard near-dup pairs ------------------------------
    // Word-bigram shingles, explode + self-join on shingle, Jaccard >= 0.3.
    // Bounded to doc_id < 300 to keep the exact baseline tractable; the
    // LSH path (Similarity pack) removes the bound.
    Query("t06_near_dup_pairs",
      s"""WITH ${OracleSnippets.BigramOverlapCtes}
        |SELECT doc_a, doc_b, i * 1.0 / (sa.n + sb.n - i) AS jaccard
        |FROM inter
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.3""".stripMargin) {
      (s, d) => graft.operators.Dedup.exactJaccardPairs(
        Tables.documents(s, d).filter(col("doc_id") < 300), "doc_id", "text",
        n = 2, threshold = 0.3)
    },

    // ---- T10: corpus curation pipeline (dedup ∩ quality ∩ language) ---------
    // The training-data curation shape end-to-end: keep one copy per
    // content hash, drop short/low-stopword docs, keep predicted-English
    // — one query composing the dedup, quality, and lang-ID operators.
    Query("t10_corpus_curation",
      s"""WITH keep AS (
         |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
         |), scored AS (
         |  SELECT d.doc_id,
         |    len(string_split(d.text, ' ')) AS n_tokens,
         |    CAST(len(list_filter(string_split(d.text, ' '),
         |            t -> t IN (${stop.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)
         |      / CAST(len(string_split(d.text, ' ')) AS DOUBLE) AS stop_ratio,
         |    CASE WHEN en >= es AND en >= de THEN 'en'
         |         WHEN es >= de THEN 'es' ELSE 'de' END AS pred_lang
         |  FROM (SELECT doc_id, text,
         |          len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and'))) AS en,
         |          len(list_filter(string_split(text, ' '), t -> t IN ('el','la','de','y'))) AS es,
         |          len(list_filter(string_split(text, ' '), t -> t IN ('der','die','das','und'))) AS de
         |        FROM documents) d
         |  JOIN keep USING (doc_id))
         |SELECT doc_id, n_tokens, round(stop_ratio, 6) AS stop_ratio
         |FROM scored
         |WHERE n_tokens >= 20 AND stop_ratio >= 0.01 AND pred_lang = 'en'""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        val keep = graft.operators.Dedup.exactGroups(docs, "doc_id", "text")
          .select(col("keep_id").as("doc_id"))
        docs.join(keep, "doc_id")
          .select(col("doc_id"),
            tokenCount(col("text")).as("n_tokens"),
            stopwordRatio(col("text"), stop).as("stop_ratio"),
            langId(col("text"), markerLists).as("pred_lang"))
          .filter(col("n_tokens") >= 20 && col("stop_ratio") >= 0.01 &&
            col("pred_lang") === "en")
          .select(col("doc_id"), col("n_tokens"), round(col("stop_ratio"), 6).as("stop_ratio"))
      }
    },

    // ---- T11: deterministic stratified hash sampling -------------------------
    // Partition-stable curation sampling: membership from md5(key||salt),
    // per-language rates. Fully reproducible on both engines.
    Query("t11_stratified_sample",
      """SELECT doc_id, lang FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR) || 's1'), 1, 4) <
        |      CASE lang WHEN 'en' THEN '8000' WHEN 'de' THEN '4000' ELSE '0000' END""".stripMargin) {
      (s, d) => graft.operators.Sampling.stratifiedHashSample(
          Tables.documents(s, d), "doc_id", "lang",
          Map("en" -> 0.5, "de" -> 0.25), salt = "s1")
        .select("doc_id", "lang")
    },

    // ---- T12: token-budget shard packing --------------------------------------
    // Assign documents (in stable doc_id order) to shards of ~2000 tokens
    // each — two-pass distributed prefix sum (operators/Packing): range
    // buckets → per-bucket totals → broadcast offsets → within-bucket
    // window. No data-sized single-partition exchange; the oracle's
    // global window is the semantic reference.
    Query("t12_token_shards",
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents)
        |SELECT doc_id, n_tokens,
        |       CAST(floor((CAST(sum(n_tokens) OVER (ORDER BY doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |             - n_tokens) / 2000) AS BIGINT) AS shard
        |FROM t""".stripMargin) {
      (s, d) => graft.operators.Packing.tokenShards(
        Tables.documents(s, d)
          .select(col("doc_id"), tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", budget = 2000, bucketWidth = 128)
    },

    // ---- T13: PII scrubbing (emails / IPs / phone runs → typed tags) --------
    // The corpus has no organic PII, so deterministic synthetic PII is
    // injected per doc_id and must come out scrubbed on both engines.
    Query("t13_pii_scrub",
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail' ||
        |          CAST(doc_id % 7 AS VARCHAR) || '.com or +1-555-' ||
        |          lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' at 10.0.' ||
        |          CAST(doc_id % 256 AS VARCHAR) || '.1',
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
        |    '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS scrubbed
        |FROM documents""".stripMargin) {
      (s, d) => {
        val injected = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail"), (col("doc_id") % 7).cast("string"),
          lit(".com or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" at 10.0."), (col("doc_id") % 256).cast("string"), lit(".1"))
        Tables.documents(s, d)
          .select(col("doc_id"), scrubPii(injected).as("scrubbed"))
      }
    },

    // ---- T14: benchmark decontamination (n-gram overlap vs holdout) ----------
    // Corpus docs sharing >= 2 distinct word trigrams with the benchmark
    // slice (doc_id % 40 = 0) get flagged for removal before training.
    Query("t14_decontaminate",
      s"""WITH ${OracleSnippets.DocTrigramCte},
        |b AS (SELECT DISTINCT s FROM sh WHERE doc_id % 40 = 0),
        |c AS (SELECT doc_id, s FROM sh WHERE doc_id % 40 <> 0)
        |SELECT doc_id, count(*) AS n_overlap
        |FROM c JOIN b USING (s)
        |GROUP BY doc_id
        |HAVING count(*) >= 2""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.operators.Decontaminate.benchmarkOverlap(
          docs.filter(col("doc_id") % 40 =!= 0),
          docs.filter(col("doc_id") % 40 === 0),
          "doc_id", "text", n = 3, minOverlap = 2)
      }
    },

    // ---- T15: repetition / diversity stats (Gopher-style quality rules) -----
    // Per-doc top-token frequency ratio and distinct-token ratio — the
    // standard repetition filters for training corpora. Explode + two-level
    // aggregate: both aggs are map-side combinable, no driver work.
    Query("t15_repetition_stats",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |f AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
        |agg AS (SELECT doc_id, max(c) AS maxc, count(*) AS n_distinct, sum(c) AS n_tok
        |        FROM f GROUP BY 1)
        |SELECT doc_id,
        |       CAST(maxc AS DOUBLE) / n_tok AS top_token_ratio,
        |       CAST(n_distinct AS DOUBLE) / n_tok AS distinct_ratio
        |FROM agg""".stripMargin) {
      (s, d) => {
        val freq = Tables.documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
          .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
        freq.groupBy("doc_id")
          .agg(max("c").as("maxc"), count(lit(1)).as("n_distinct"),
               sum("c").as("n_tok"))
          .select(col("doc_id"),
            (col("maxc").cast("double") / col("n_tok")).as("top_token_ratio"),
            (col("n_distinct").cast("double") / col("n_tok")).as("distinct_ratio"))
      }
    },

    // ---- T16: domain-mixture downsampling -------------------------------------
    // Sample the corpus so output language proportions hit en:de:es =
    // 50:30:20 without upsampling (binding domain kept whole); other
    // languages drop. Rates derive from data counts, so the oracle
    // recomputes them in SQL.
    Query("t16_domain_mix",
      """WITH counts AS (
        |  SELECT lang, count(*) AS c FROM documents GROUP BY 1),
        |w AS (
        |  SELECT lang, c,
        |         CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.3
        |                   WHEN 'es' THEN 0.2 END AS wt
        |  FROM counts),
        |m AS (SELECT min(c / wt) AS nout FROM w WHERE wt IS NOT NULL),
        |r AS (SELECT lang, LEAST(wt * nout / c, 1.0) AS rate
        |      FROM w, m WHERE wt IS NOT NULL)
        |SELECT d.doc_id, d.lang FROM documents d
        |JOIN r USING (lang)
        |WHERE substring(md5(CAST(d.doc_id AS VARCHAR) || 'mx1'), 1, 4) <
        |      CASE WHEN rate >= 1.0 THEN 'g'
        |           ELSE printf('%04x', CAST(floor(rate * 65536) AS INT)) END""".stripMargin) {
      (s, d) => graft.operators.Sampling.mixToTarget(
          Tables.documents(s, d), "doc_id", "lang",
          Map("en" -> 0.5, "de" -> 0.3, "es" -> 0.2), salt = "mx1")
        .select("doc_id", "lang")
    },

    // ---- T17: corpus term statistics (document frequency + IDF) -------------
    // The vocabulary table a retrieval/quality pipeline derives once per
    // corpus: per-term document frequency and inverse document frequency.
    // One explode of DISTINCT per-doc terms + one hash aggregation; the
    // corpus size joins in as a broadcast 1-row aggregate (no collect).
    // ln is libm on both engines → rounded to 6 dp (r11 precedent).
    Query("t17_tfidf_stats",
      """WITH terms AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
        |  FROM documents),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT term, count(*) AS doc_freq,
        |       round(ln((SELECT n_docs FROM n) * 1.0 / count(*)), 6) AS idf
        |FROM terms GROUP BY term""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        val terms = docs.select(
          explode(array_distinct(split(col("text"), " "))).as("term"))
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        terms.groupBy("term").agg(count(lit(1)).as("doc_freq"))
          .crossJoin(broadcast(nDocs))
          .select(col("term"), col("doc_freq"),
            round(log(col("n_docs") * lit(1.0) / col("doc_freq")), 6).as("idf"))
      }
    },

    // ---- T18: unigram-LM cross-entropy score (CCNet-style quality filter) ---
    // Score each doc by mean negative log-likelihood under the corpus's own
    // unigram distribution — the standard LM-perplexity quality signal with
    // the LM replaced by its closed unigram form. Per-term -ln p is rounded
    // to 6 dp and summed as DECIMAL so the fold is order-independent
    // (ln precedent: t17/r11). Shapes: one token explode, one hash agg for
    // the vocab, token→vocab equi-join (vocab ≪ corpus, AQE broadcasts),
    // one map-side-combinable per-doc agg — no driver work, no collect.
    Query("t18_unigram_logprob",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |v AS (SELECT t, count(*) AS c FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n_total FROM tok),
        |lp AS (SELECT t, CAST(round(ln((SELECT n_total FROM n) * 1.0 / c), 6)
        |                      AS DECIMAL(18,6)) AS nll FROM v)
        |SELECT doc_id, round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS xent,
        |       count(*) AS n_tok
        |FROM tok JOIN lp USING (t)
        |GROUP BY 1""".stripMargin) {
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        // n_total from the vocab counts, not a second pass over the
        // token stream — one corpus scan feeds both
        val vocab = tok.groupBy("t").agg(count(lit(1)).as("c"))
        val total = vocab.agg(sum("c").as("n_total"))
        val logp = vocab.crossJoin(broadcast(total))
          .select(col("t"),
            round(log(col("n_total").cast("double") / col("c")), 6)
              .cast("decimal(18,6)").as("nll"))
        tok.join(logp, "t")
          .groupBy("doc_id")
          .agg(sum("nll").as("sum_nll"), count(lit(1)).as("n_tok"))
          .select(col("doc_id"),
            round(col("sum_nll").cast("double") / col("n_tok"), 6).as("xent"),
            col("n_tok"))
      }
    },

    // ---- T19: first-occurrence n-gram novelty (dedup diagnostic) ------------
    // Per doc: how many of its distinct trigrams first appeared in an
    // earlier doc (doc_id order) — the novelty curve used to audit residual
    // duplication after dedup. Spark carries grams as 64-bit hashes
    // (plans.ShingleHashes — no string shingles materialized, t14
    // precedent); the oracle recomputes with string grams, so agreement
    // also certifies the hashed path collision-free on this corpus.
    Query("t19_ngram_novelty",
      s"""WITH ${OracleSnippets.DocTrigramCte},
        |first AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY 1)
        |SELECT doc_id, count(*) AS n_grams,
        |       count(*) FILTER (first_doc < doc_id) AS n_seen,
        |       round(1.0 - CAST(count(*) FILTER (first_doc < doc_id) AS DOUBLE)
        |             / count(*), 6) AS novelty
        |FROM sh JOIN first USING (s)
        |GROUP BY 1""".stripMargin) {
      (s, d) => {
        val grams = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(graft.plans.ShingleHashes(col("text"), 3)).as("s"))
        val first = grams.groupBy("s").agg(min("doc_id").as("first_doc"))
        grams.join(first, "s")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            count(when(col("first_doc") < col("doc_id"), 1)).as("n_seen"))
          .select(col("doc_id"), col("n_grams"), col("n_seen"),
            round(lit(1.0) - col("n_seen").cast("double") / col("n_grams"), 6)
              .as("novelty"))
      }
    },

    // ---- T20: exact duplicated substrings (char-window dedup) ---------------
    // The windowed form of suffix-array substring dedup: every 40-char
    // window occurring in >= 2 documents, with its document frequency —
    // the signal used to strip boilerplate/licence blocks that word-level
    // shingle Jaccard misses. DEFAULT = the production path (VERDICT r8
    // item 1): the fused CharWindowHashes kernel hashes each window to
    // 8 bytes map-side, so the exchange moves 8-byte keys instead of the
    // window text (~6x less shuffle). The gate projection aggregates to
    // the duplication-frequency histogram (n_docs -> how many windows),
    // which is IDENTICAL to the string-keyed form modulo a 2^-64
    // collision — so the production kernel sits under a full DuckDB
    // hash-match, not a rows-only check. Key-level semantics stay in the
    // gate via the t45 string/md5 oracle twin below + HashedGramTwinSpec.
    Query("t20_dup_substrings",
      """WITH w AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_transform(range(1, greatest(length(text) - 39, 1) + 1),
        |           i -> substr(text, CAST(i AS INT), 40)))) AS win
        |  FROM documents),
        |g AS (SELECT win, count(*) AS n_docs FROM w GROUP BY 1 HAVING count(*) >= 2)
        |SELECT n_docs, CAST(count(*) AS BIGINT) AS n_wins
        |FROM g GROUP BY 1""".stripMargin) {
      (s, d) =>
        graft.operators.Dedup.dupSubstringsHashed(
            Tables.documents(s, d), "doc_id", "text", 40, 2)
          .groupBy("n_docs").agg(count(lit(1)).cast("long").as("n_wins"))
    },

    // ---- T45: duplicated-substrings oracle twin (string keys) --------------
    // t20's key-level semantics under a cross-engine key: the window
    // TEXT is the group key and md5 identifies each surviving window, so
    // DuckDB replays the whole operator including which windows
    // duplicate. This row pins the algorithm; t20 above is the scale
    // path (8-byte hashed exchange).
    Query("t45_dup_substrings_oracle",
      """WITH w AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_transform(range(1, greatest(length(text) - 39, 1) + 1),
        |           i -> substr(text, CAST(i AS INT), 40)))) AS win
        |  FROM documents)
        |SELECT md5(win) AS win_md5, count(*) AS n_docs
        |FROM w GROUP BY 1 HAVING count(*) >= 2""".stripMargin) {
      (s, d) =>
        graft.core.Par.fanOut(
            Tables.documents(s, d).select("doc_id", "text"), col("doc_id"))
          .select(explode(array_distinct(transform(
              sequence(lit(1), greatest(length(col("text")) - 39, lit(1))),
              i => col("text").substr(i, lit(40))))).as("win"))
          .groupBy("win").agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") >= 2)
          .select(md5(col("win")).as("win_md5"), col("n_docs"))
    },

    // ---- T7: delimited multi-value cells: split → explode → re-aggregate ----
    // The reference stores multi-valued cells as delimited strings
    // (space-delimited lab incidences, comma keylists); count token
    // frequencies across the corpus.
    Query("t07_split_explode",
      """SELECT tok, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents WHERE doc_id < 100)
        |GROUP BY tok""".stripMargin) {
      (s, d) => Tables.documents(s, d).filter(col("doc_id") < 100)
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
    },

    // ---- T21: bloom-prefiltered decontamination ------------------------------
    // t14's semantics at a benchmark size where broadcasting the shingle
    // set stops being attractive: a Bloom sketch over the benchmark's
    // bigram hashes prefilters the corpus explode map-side
    // (BloomFilterMightContain — codegen'd, no UDF), the exact join then
    // strips the sketch's false positives. Result is bit-identical to
    // the exact operator (no false negatives), so the oracle is the
    // plain exact SQL.
    Query("t21_bloom_decontaminate",
      """WITH sh AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_transform(range(1, len(t)),
        |           i -> t[i] || ' ' || t[i+1]))) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        |  WHERE len(t) >= 2
        |), b AS (SELECT DISTINCT s FROM sh WHERE doc_id % 25 = 0),
        |c AS (SELECT doc_id, s FROM sh WHERE doc_id % 25 <> 0)
        |SELECT doc_id, count(*) AS n_overlap
        |FROM c JOIN b USING (s)
        |GROUP BY doc_id
        |HAVING count(*) >= 3""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.operators.Decontaminate.benchmarkOverlapBloom(
          docs.filter(col("doc_id") % 25 =!= 0),
          docs.filter(col("doc_id") % 25 === 0),
          "doc_id", "text", n = 2, minOverlap = 3)
      }
    },

    // ---- T22: chunk-level dedup (keep-first) --------------------------------
    // Sentence/paragraph-style exact dedup: 12-token chunks, a repeated
    // chunk survives only at its globally first occurrence, docs are
    // re-assembled from surviving chunks (operators/Dedup.dedupChunks).
    // The keep-first winner is a packed-long min — one hash aggregate,
    // no window, no min(struct) SortAggregate.
    Query("t22_chunk_dedup",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ix AS (SELECT doc_id, w,
        |              unnest(range(0, CAST(ceil(len(w) / 12.0) AS BIGINT))) AS ci
        |       FROM t),
        |ch AS (SELECT doc_id, ci,
        |              array_to_string(w[(ci*12 + 1):(ci*12 + 12)], ' ') AS chunk
        |       FROM ix),
        |f AS (SELECT chunk, count(*) AS c, min(doc_id * 1048576 + ci) AS keep
        |      FROM ch GROUP BY 1),
        |k AS (SELECT doc_id, ci, ch.chunk FROM ch JOIN f USING (chunk)
        |      WHERE c = 1 OR doc_id * 1048576 + ci = keep)
        |SELECT d.doc_id,
        |       coalesce(string_agg(k.chunk, ' ' ORDER BY k.ci), '') AS clean_text,
        |       count(k.ci) AS n_kept
        |FROM documents d LEFT JOIN k ON d.doc_id = k.doc_id
        |GROUP BY d.doc_id""".stripMargin) {
      (s, d) => graft.operators.Dedup.dedupChunks(
        Tables.documents(s, d), "doc_id", "text", chunkTokens = 12)
    },

    // ---- T23: importance-weighted deterministic sampling --------------------
    // Quality-weighted curation sampling: each doc's keep-probability is
    // its own length signal (min(1, n_tokens/60)), membership decided
    // from md5(doc_id||salt) against the per-row threshold — DSIR-style
    // importance sampling that is partition/retry-stable by construction
    // (operators/Sampling.weightedHashSample).
    Query("t23_weighted_sample",
      """WITH t AS (
        |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens FROM documents),
        |p AS (
        |  SELECT *, CAST(floor(least(1.0, CAST(n_tokens AS DOUBLE) / 60.0) * 65536)
        |                 AS BIGINT) AS thr
        |  FROM t)
        |SELECT doc_id, lang, n_tokens FROM p
        |WHERE substring(md5(CAST(doc_id AS VARCHAR) || 'w1'), 1, 4) <
        |      CASE WHEN thr >= 65536 THEN 'g' ELSE printf('%04x', thr) END""".stripMargin) {
      (s, d) => {
        val t = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), tokenCount(col("text")).as("n_tokens"))
        graft.operators.Sampling.weightedHashSample(
          t, "doc_id", least(lit(1.0), col("n_tokens").cast("double") / 60.0),
          salt = "w1")
      }
    },

    // ---- T24: BPE pair counting (vocab-induction primitive) ---------------
    // Adjacent-token-pair frequencies, global top-50. The pair explode is
    // map-side (one narrow projection per doc); the count is one hash
    // aggregate; the top-N is TakeOrderedAndProject (per-partition heaps
    // merged on the driver — no global sort shuffle), so the plan scales
    // with the corpus, not the vocabulary. BPE's merge rounds are a small
    // driver loop around this primitive, like the Lloyd loop in Ivf.
    Query("t24_bpe_pair_counts",
      """SELECT pair, count(*) AS n FROM (
        |  SELECT unnest(list_transform(range(1, len(w)),
        |                               i -> w[i] || ' ' || w[i + 1])) AS pair
        |  FROM (SELECT string_split(text, ' ') AS w FROM documents))
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 50""".stripMargin) {
      (s, d) => Tables.documents(s, d)
        .select(explode(adjacentPairs(col("text"))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(50)
    },

    // ---- T26: BPE merge loop (3 rounds, full oracle) -----------------------
    // The iterative half of BPE vocab induction: 3 driver-coordinated
    // rounds of [global top pair -> corpus-wide greedy merge], self-
    // pairs included (run-length fold in the engine, Bpe.selfMergeExpr).
    // The oracle LEARNS the same pairs via chained CTEs and replays the
    // greedy rewrite in its uniform gaps-and-islands form: candidate
    // positions (t[i],t[i+1])=(l,r) group into consecutive islands,
    // odd island-positions merge, the following position drops — for
    // l ≠ r islands are singletons (the old non-overlap rule), for
    // l = r this is exactly floor(k/2)+parity run arithmetic. Pair
    // selection, tie-breaks, and merge semantics stay hash-pinned
    // cross-engine either way.
    Query("t26_bpe_merges",
      s"""WITH d0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |${(1 to 3).map(OracleSnippets.bpeMergeRound).mkString(",\n")}
        |SELECT doc_id, array_to_string(t, ' ') AS merged_text,
        |       CAST(len(t) AS BIGINT) AS n_tokens FROM d3""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
        val (_, merged) = graft.operators.Bpe.applyMerges(docs, "toks", 3)
        merged.select(col("doc_id"),
          array_join(col("toks"), " ").as("merged_text"),
          size(col("toks")).cast("long").as("n_tokens"))
      }
    },

    // ---- T27: graded contamination score ----------------------------------
    // t14's overlap as a per-doc FRACTION over every corpus doc (the
    // reporting form: score distribution, not a drop filter). String
    // shingles in the oracle vs fused hashed shingles here — agreement
    // doubles as a collision-freeness check, like t14/t19.
    Query("t27_contamination_score",
      s"""WITH ${OracleSnippets.DocTrigramCte},
        |b AS (SELECT DISTINCT s FROM sh WHERE doc_id % 40 = 0),
        |c AS (SELECT doc_id, s FROM sh WHERE doc_id % 40 <> 0),
        |n AS (SELECT doc_id, count(*) AS n_shingles FROM c GROUP BY 1),
        |o AS (SELECT doc_id, count(*) AS n_overlap FROM c JOIN b USING (s)
        |      GROUP BY 1)
        |SELECT n.doc_id, n.n_shingles, coalesce(o.n_overlap, 0) AS n_overlap,
        |       coalesce(o.n_overlap, 0) * 1.0 / n.n_shingles AS score
        |FROM n LEFT JOIN o USING (doc_id)""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.operators.Decontaminate.contaminationScore(
          docs.filter(col("doc_id") % 40 =!= 0),
          docs.filter(col("doc_id") % 40 === 0),
          "doc_id", "text", n = 3)
      }
    },

    // ---- T25: within-doc repeated-segment filter (boilerplate removal) ----
    // Gopher-style repetition rules at segment granularity: drop a
    // 10-token segment when it repeats earlier content of the SAME doc
    // or has < 3 distinct tokens. Pure per-row array algebra — the whole
    // query is one zero-shuffle projection (vs t22's corpus-level
    // keep-first dedup, which must shuffle by chunk content).
    Query("t25_segment_filter",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |             list_transform(range(0, CAST(ceil(len(w) / 10.0) AS BIGINT)),
        |                            i -> array_to_string(w[(i*10 + 1):(i*10 + 10)], ' '))
        |               AS segs
        |      FROM t),
        |k AS (SELECT doc_id, segs,
        |             list_filter(segs, (seg, i) -> list_position(segs, seg) = i
        |               AND len(list_distinct(string_split(seg, ' '))) >= 3) AS kept
        |      FROM s)
        |SELECT doc_id, array_to_string(kept, ' ') AS clean_text,
        |       len(segs) - len(kept) AS n_dropped
        |FROM k""".stripMargin) {
      (s, d) => {
        // materialize the kept array in its own projection: two output
        // columns reference it, and CollapseProject keeps the boundary
        // (non-cheap expression, multiple references) so the HOF chain
        // runs once per row instead of once per referencing column
        Tables.documents(s, d)
          .select(col("doc_id"),
            keptSegments(col("text"), segTokens = 10, minDistinct = 3)
              .as("__kept"),
            tokenCount(col("text")).as("__ntok"))
          .select(col("doc_id"),
            array_join(col("__kept"), " ").as("clean_text"),
            (ceil(col("__ntok") / 10.0).cast("long")
              - size(col("__kept"))).as("n_dropped"))
      }
    },

    // ---- T28: URL canonicalization + canonical keep-first -----------------
    // The crawl-curation stage BEFORE content dedup (C4/ccnet practice):
    // normalize each document's URL to a canonical dedup key, derive the
    // registrable domain, keep the first doc per canonical URL. URLs are
    // synthesized from (doc_id, source) by a dialect-shared SQL fixture
    // (mixed-case scheme/host, default port, www., duplicate slashes,
    // trailing slash, fragment, shuffled + tracking query params), so the
    // oracle replays the EXACT normalization function-by-function — any
    // divergence in regex/array semantics hash-mismatches. Plan: one
    // narrow codegen'd projection + one shuffle (the per-URL window);
    // nothing grows with the corpus except the scan.
    Query("t28_url_canonicalize",
      s"""WITH u AS (SELECT doc_id, $UrlFixtureSql AS url FROM documents),
        |${OracleSnippets.UrlCanonCtes}
        |SELECT doc_id, url_canon, dom AS domain,
        |       doc_id = min(doc_id) OVER (PARTITION BY url_canon) AS kept
        |FROM c""".stripMargin) {
      (s, d) => {
        import graft.functions.Web
        val w = org.apache.spark.sql.expressions.Window.partitionBy("url_canon")
        Tables.documents(s, d)
          .select(col("doc_id"), expr(UrlFixtureSql).as("url"))
          .select(col("doc_id"),
            Web.canonicalUrl(col("url")).as("url_canon"),
            Web.urlHost(col("url")).as("domain"))
          .withColumn("kept", col("doc_id") === min("doc_id").over(w))
      }
    },

    // ---- T29: hashed-feature linear classifier (quality-model gate) -------
    // fastText-style model application at corpus scale: tokens hash into a
    // fixed 4096-bucket space, the (bucket, weight) table broadcasts, and
    // each doc's score is one explode + broadcast join + hash agg. The
    // registry instance uses the md5 bucket family so the oracle LEARNS
    // nothing — it regenerates the same weight table from range(4096) and
    // replays the same bucketing; integer weights make the score exact on
    // both engines. Production bucketing (xxhash64) is the same operator
    // with bucketOf swapped — ClassifierSpec pins that path.
    Query("t29_hashed_classifier",
      """WITH w AS (SELECT printf('%03x', i) AS bucket, i % 21 - 10 AS wt FROM range(4096) t(i)),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |tb AS (SELECT doc_id, substr(md5(t), 1, 3) AS bucket FROM tok),
        |s AS (SELECT doc_id, CAST(sum(wt) AS BIGINT) AS s FROM tb JOIN w USING (bucket) GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(s.s, 0) + 3 AS BIGINT) AS score,
        |       coalesce(s.s, 0) + 3 >= 0 AS kept
        |FROM documents d LEFT JOIN s USING (doc_id)""".stripMargin) {
      (s, d) => graft.operators.Classifier.scoreHashed(
        Tables.documents(s, d), "doc_id", "text",
        graft.operators.Classifier.md5DemoWeights(s), "bucket", "weight",
        graft.operators.Classifier.md5Bucket, bias = 3L)
    },

    // ---- T30: per-domain quality-percentile curriculum filter -------------
    // CCNet/RefinedWeb practice: quality cutoffs are set PER SOURCE so
    // dropping each domain's worst tail preserves domain diversity.
    // Composes t28's domain derivation + an integer quality score (the
    // only float step is the percentile interpolation — a18's proven
    // cross-engine contract). Plan: one domain-keyed hash aggregate +
    // broadcast threshold join back; the corpus never globally sorts.
    // At 100 TB the exact percentile swaps for percentile_approx (a25)
    // with the identical two-pass plan.
    Query("t30_quality_curriculum",
      s"""WITH u AS (SELECT doc_id, $UrlFixtureSql AS url,
        |  len(string_split(text, ' '))
        |    + 3*len(list_filter(string_split(text, ' '),
        |            t -> t IN ('the','a','of','and','in')))
        |    - length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS score
        |FROM documents),
        |d AS (SELECT doc_id, score,
        |  regexp_replace(regexp_replace(lower(regexp_extract(url,
        |    '^[^:]+://([^/?#]+)', 1)), ':443$$', ''), '^www\\.', '') AS domain
        |FROM u),
        |t AS (SELECT domain, quantile_cont(score, 0.75) AS p_thr
        |      FROM d GROUP BY 1)
        |SELECT doc_id, domain, score, p_thr,
        |       CAST(score AS DOUBLE) >= p_thr AS kept
        |FROM d JOIN t USING (domain)""".stripMargin) {
      (s, d) => {
        import graft.functions.Web
        val scored = Tables.documents(s, d).select(
          col("doc_id"),
          Web.urlHost(expr(UrlFixtureSql)).as("domain"),
          graft.operators.Curriculum.integerQualityScore(col("text"), stop)
            .as("score"))
        graft.operators.Curriculum.domainPercentileKeep(
          scored, "doc_id", "domain", "score", p = 0.75)
      }
    },

    // ---- T31: corpus-frequency boilerplate coverage -----------------------
    // Gopher's repetition family at CORPUS granularity: fraction of a
    // doc's distinct 3-grams that are corpus-frequent (df > 5). High
    // coverage = the doc is assembled from boilerplate even when
    // nothing repeats within it (t15/t25 cover the within-doc rules).
    // The frequent-gram list is the df tail — broadcast-small at any
    // cutoff that means "frequent"; AQE picks the broadcast.
    Query("t31_dup_ngram_coverage",
      s"""WITH ${OracleSnippets.DocTrigramCte},
        |df AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
        |f AS (SELECT s FROM df WHERE df > 5)
        |SELECT doc_id, count(*) AS n_grams, count(f.s) AS n_freq,
        |       CAST(count(f.s) AS DOUBLE) / count(*) AS coverage
        |FROM sh LEFT JOIN f ON sh.s = f.s
        |GROUP BY 1""".stripMargin) {
      (s, d) => graft.operators.Curriculum.dupNgramCoverage(
        Tables.documents(s, d), "doc_id", "text", n = 3, minDf = 5L)
    },

    // ---- T32: context-window chunking (sequence prep) ---------------------
    // The "cut documents into training sequences" operator: fixed
    // 20-token windows at stride 15 (5-token overlap, standard LM
    // practice so no boundary context is lost), short final windows
    // kept. Pure per-row array algebra via the bind1 pattern — zero
    // exchanges, the t25 lesson applied from the start; t12's packing
    // then assigns chunks to shards by token budget.
    Query("t32_context_chunks",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id,
        |        list_transform(range(0, CAST(ceil((len(w) - 5) / 15.0) AS BIGINT)),
        |                       i -> array_to_string(w[(i*15 + 1):(i*15 + 20)], ' '))
        |          AS chunks
        |      FROM t WHERE len(w) > 5)
        |SELECT doc_id, i - 1 AS chunk_idx, chunks[i] AS chunk_text,
        |       len(string_split(chunks[i], ' ')) AS n_tokens
        |FROM c, unnest(range(1, len(chunks) + 1)) AS u(i)""".stripMargin) {
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(contextChunks(col("text"), window = 20, stride = 15))
            .as(Seq("chunk_idx", "chunk_text")))
        .select(col("doc_id"), col("chunk_idx").cast("long"),
          col("chunk_text"), tokenCount(col("chunk_text")).as("n_tokens"))
    },

    // ---- G9: corpus manifest — the whole curation chain in ONE query ------
    // What g05 is to the reference's cleaning DAG, this is to the
    // LLM-curation extension: five individually-proven stages chained
    // into the query a training run would actually consume. (1) URL
    // canonical keep-first (t28) -> (2) exact-content keep-first (t05)
    // -> (3) benchmark decontamination: eval set (doc_id % 40 = 0) held
    // out AND any corpus doc sharing a distinct 3-gram with it dropped
    // (t14's rule; engine side is the hashed-shingle broadcast, oracle
    // replays with string shingles — agreement doubles as the collision
    // check) -> (4) per-domain p75 quality gate over the SURVIVORS
    // (t30) -> (5) manifest projection: token counts + deterministic
    // md5 shard assignment. Every stage's shuffle was already audited
    // alone; the chain adds no new exchange class.
    Query("g09_corpus_manifest",
      s"""WITH u AS (SELECT doc_id, text, $G09UrlSql AS url FROM documents),
        |${OracleSnippets.UrlCanonCtes},
        |s1 AS (SELECT * FROM (
        |         SELECT u.doc_id, u.text, c.dom AS domain, c.url_canon,
        |                min(u.doc_id) OVER (PARTITION BY c.url_canon) AS w1
        |         FROM u JOIN c ON u.doc_id = c.doc_id)
        |       WHERE doc_id = w1),
        |s2 AS (SELECT * FROM (
        |         SELECT doc_id, text, domain, url_canon,
        |                min(doc_id) OVER (PARTITION BY md5(text)) AS w2
        |         FROM s1)
        |       WHERE doc_id = w2),
        |bg AS (SELECT DISTINCT unnest(list_distinct(list_transform(
        |           range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |       FROM (SELECT string_split(text, ' ') AS t FROM documents
        |             WHERE doc_id % 40 = 0)
        |       WHERE len(t) >= 3),
        |cg AS (SELECT doc_id,
        |         unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |       FROM (SELECT doc_id, string_split(text, ' ') AS t FROM s2
        |             WHERE doc_id % 40 <> 0)
        |       WHERE len(t) >= 3),
        |dirty AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg ON cg.s = bg.s),
        |s3 AS (SELECT s2.* FROM s2 LEFT JOIN dirty ON s2.doc_id = dirty.doc_id
        |       WHERE s2.doc_id % 40 <> 0 AND dirty.doc_id IS NULL),
        |sc AS (SELECT doc_id, domain, url_canon, text,
        |         len(string_split(text, ' '))
        |           + 3*len(list_filter(string_split(text, ' '),
        |                   t -> t IN ('the','a','of','and','in')))
        |           - length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS score
        |       FROM s3),
        |thr AS (SELECT domain, quantile_cont(score, 0.75) AS p_thr
        |        FROM sc GROUP BY 1)
        |SELECT sc.doc_id, sc.domain, sc.url_canon, sc.score,
        |       len(string_split(sc.text, ' ')) AS n_tokens,
        |       ascii(substring(md5(CAST(sc.doc_id AS VARCHAR)), 1, 1)) % 8 AS shard
        |FROM sc JOIN thr ON sc.domain = thr.domain
        |WHERE CAST(sc.score AS DOUBLE) >= thr.p_thr""".stripMargin) {
      (s, d) => {
        import graft.functions.Web
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        val url = docs.select(col("doc_id"), col("text"),
          Web.canonicalUrl(expr(G09UrlSql)).as("url_canon"),
          Web.urlHost(expr(G09UrlSql)).as("domain"))
        val s1 = url
          .withColumn("__w1", min("doc_id").over(Window.partitionBy("url_canon")))
          .filter(col("doc_id") === col("__w1")).drop("__w1")
        val s2 = s1
          .withColumn("__w2",
            min("doc_id").over(Window.partitionBy(md5(col("text")))))
          .filter(col("doc_id") === col("__w2")).drop("__w2")
        // `corpus` feeds BOTH the decontamination leg (via benchmarkOverlap)
        // and the anti-join back; `sc` feeds BOTH the per-domain threshold
        // aggregate and the final join. Catalyst replays a val's whole
        // subtree per reference ("vals name plans, not results" — the g13
        // lesson), which re-ran the two window-dedup stages twice and blew
        // the plan to 18 exchanges. Cut both diamonds with an eager
        // localCheckpoint so each upstream executes exactly once.
        val corpus = Materialize.pin(s2.filter(col("doc_id") % 40 =!= 0))
        val dirty = graft.operators.Decontaminate.benchmarkOverlap(
          corpus, docs.filter(col("doc_id") % 40 === 0),
          "doc_id", "text", n = 3, minOverlap = 1)
        val s3 = corpus.join(dirty.select("doc_id"), Seq("doc_id"), "left_anti")
        val sc = Materialize.pin(s3.select(col("doc_id"), col("domain"), col("url_canon"),
          col("text"),
          graft.operators.Curriculum.integerQualityScore(col("text"), stop)
            .as("score")))
        val thr = sc.groupBy("domain")
          .agg(expr("percentile(score, 0.75)").as("p_thr"))
        sc.join(broadcast(thr), Seq("domain"))
          .filter(col("score").cast("double") >= col("p_thr"))
          .select(col("doc_id"), col("domain"), col("url_canon"), col("score"),
            tokenCount(col("text")).as("n_tokens"),
            (ascii(substring(md5(col("doc_id").cast("string")), 1, 1)) % 8)
              .cast("long").as("shard"))
      }
    },

    // ---- t33: tokenizer application (greedy longest-match encode) ---------
    // WordPiece-style greedy encode against a literal piece vocabulary,
    // fused into one codegen expression (plans/GreedyPieceEncode): per
    // word, take the longest matching piece (>= 2 chars) else one char.
    // The oracle replays the identical greedy rule as a recursive CTE —
    // the length-descending CASE is exactly "longest match at cursor" —
    // and re-aggregates words in order, so a single divergent split
    // anywhere in the corpus breaks the hash. n_pieces is recomputed
    // from the encoded string by separator arithmetic on BOTH sides
    // (pieces = bars + spaces + 1), never from engine internals.
    Query("t33_tokenizer_apply", TokenizerOracleSql) { (s, d) =>
      val enc = graft.plans.GreedyPieceEncode(col("text"), PieceVocab)
      Tables.documents(s, d)
        .select(col("doc_id"), enc.as("enc"))
        .select(col("doc_id"), col("enc"),
          (length(col("enc")) - length(regexp_replace(col("enc"), "\\|", ""))
            + length(col("enc")) - length(regexp_replace(col("enc"), " ", ""))
            + 1).cast("bigint").as("n_pieces"))
    },

    // ---- T58: tokenizer fertility report (per-source QA) -------------------
    // The tokenizer-acceptance metric: pieces-per-word (fertility) and
    // chars-per-piece per corpus source under the t33 greedy wordpiece
    // encode — a vocab that fragments one source's text (fertility
    // creeping toward chars-per-word) is mis-fit for it. Rides the SAME
    // codegen GreedyPieceEncode kernel and the SAME recursive-CTE
    // oracle as t33 (wrapped as a subquery), so the encode itself stays
    // cross-engine-pinned; the report adds exact integer sums and two
    // IEEE ratio columns. One scan, one source-cardinality agg.
    Query("t58_tokenizer_fertility",
      s"""WITH base AS ($TokenizerOracleSql),
        |j AS (
        |  SELECT d.source, len(string_split(d.text, ' ')) AS n_words,
        |         length(d.text) AS n_chars, b.n_pieces
        |  FROM documents d JOIN base b ON d.doc_id = b.doc_id)
        |SELECT source,
        |       CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
        |       CAST(sum(n_words) AS BIGINT) AS n_words,
        |       CAST(sum(n_pieces) AS DOUBLE) / sum(n_words) AS fertility,
        |       CAST(sum(n_chars) AS DOUBLE) / sum(n_pieces) AS chars_per_piece
        |FROM j GROUP BY 1""".stripMargin) { (s, d) =>
      val enc = graft.plans.GreedyPieceEncode(col("text"), PieceVocab)
      Tables.documents(s, d)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("n_words"),
          length(col("text")).cast("long").as("n_chars"),
          enc.as("enc"))
        .select(col("source"), col("n_words"), col("n_chars"),
          (length(col("enc")) - length(regexp_replace(col("enc"), "\\|", ""))
            + length(col("enc")) - length(regexp_replace(col("enc"), " ", ""))
            + 1).cast("bigint").as("n_pieces"))
        .groupBy("source")
        .agg(sum("n_pieces").cast("long").as("n_pieces"),
          sum("n_words").cast("long").as("n_words"),
          (sum("n_pieces").cast("double") / sum("n_words")).as("fertility"),
          (sum("n_chars").cast("double") / sum("n_pieces"))
            .as("chars_per_piece"))
    },

    // ---- t37: markup strip + entity decode (HTML boilerplate removal) -----
    // The first transform of any web-crawl pipeline: tags out, entities
    // decoded, whitespace re-collapsed. The fixture wraps each doc in
    // deterministic markup (id-bearing div, per-word <b> tags, trailing
    // entities) built IDENTICALLY in both engines, so the strip chain —
    // tag regex, entity decode, whitespace collapse, trim — is verified
    // end-to-end including the tag count. Pure narrow regexp projection;
    // no UDF, stays in codegen.
    Query("t37_markup_strip",
      """WITH h AS (SELECT doc_id,
        |  '<div id="d' || doc_id || '"><p>' ||
        |  regexp_replace(text, '\b(the)\b', '<b>\1</b>', 'g') ||
        |  '</p>&nbsp;&amp;tail</div>' AS html
        |FROM documents),
        |s AS (SELECT doc_id, html,
        |  regexp_replace(html, '<[^>]*>', '', 'g') AS no_tags FROM h)
        |SELECT doc_id,
        |  trim(regexp_replace(replace(replace(no_tags, '&nbsp;', ' '),
        |       '&amp;', '&'), ' {2,}', ' ', 'g')) AS clean,
        |  CAST(length(html) - length(replace(html, '<', '')) AS BIGINT) AS n_tags
        |FROM s""".stripMargin) { (s, d) =>
      val html = concat(lit("<div id=\"d"), col("doc_id").cast("string"),
        lit("\"><p>"),
        regexp_replace(col("text"), "\\b(the)\\b", "<b>$1</b>"),
        lit("</p>&nbsp;&amp;tail</div>"))
      Tables.documents(s, d)
        .select(col("doc_id"), html.as("html"))
        .select(col("doc_id"),
          trim(regexp_replace(
            expr("replace(replace(regexp_replace(html, '<[^>]*>', ''), " +
              "'&nbsp;', ' '), '&amp;', '&')"),
            " {2,}", " ")).as("clean"),
          (length(col("html")) -
            length(expr("replace(html, '<', '')"))).cast("bigint").as("n_tags"))
    },

    // ---- t36: leakage-safe train/val/test split ---------------------------
    // Split assignment hashed on the DOMAIN, not the document: every doc
    // from one site lands in the same split, so near-duplicates that
    // live on the same domain can never straddle train and eval — the
    // contamination mode a per-doc random split invites. 75/12.5/12.5 by
    // the first md5 nibble of the domain; deterministic, rerun-stable,
    // and requiring no coordination (each row decides alone — a narrow
    // projection at any scale). The leak_free column re-derives the
    // invariant in-band: distinct splits per domain == 1, hashed into
    // the oracle comparison.
    Query("t36_leakage_safe_split",
      s"""WITH u AS (SELECT doc_id, $UrlFixtureSql AS url FROM documents),
         |d AS (SELECT doc_id,
         |        regexp_replace(regexp_replace(lower(regexp_extract(url,
         |          '^[^:]+://([^/?#]*)', 1)), ':(443|80)$$', ''), '^www\\.', '')
         |          AS domain
         |      FROM u),
         |sp AS (SELECT doc_id, domain,
         |         CASE WHEN CAST('0x' || substr(md5(domain), 1, 1) AS BIGINT) < 12
         |                THEN 'train'
         |              WHEN CAST('0x' || substr(md5(domain), 1, 1) AS BIGINT) < 14
         |                THEN 'val'
         |              ELSE 'test' END AS split
         |       FROM d)
         |SELECT doc_id, domain, split,
         |       count(DISTINCT split) OVER (PARTITION BY domain) = 1 AS leak_free
         |FROM sp""".stripMargin) {
      (s, d) => {
        import graft.functions.Web
        val nib = conv(substring(md5(col("domain")), 1, 1), 16, 10).cast("int")
        val w = org.apache.spark.sql.expressions.Window.partitionBy("domain")
        Tables.documents(s, d)
          .select(col("doc_id"), Web.urlHost(expr(UrlFixtureSql)).as("domain"))
          .withColumn("split",
            when(nib < 12, "train").when(nib < 14, "val").otherwise("test"))
          .withColumn("leak_free", size(collect_set(col("split")).over(w)) === 1)
      }
    },

    // ---- t35: Unicode NFC normalization (canonical composition) -----------
    // The multilingual-corpus canonicalization step: byte-different but
    // canonically-equal strings must collide before any hash/dedup sees
    // them. Fixture: a decomposed variant of each doc's prefix (combining
    // acute U+0301 injected after every vowel) built identically in both
    // engines, then composed back — the engine through the codegen
    // NfcNormalize expression (java.text.Normalizer), the oracle through
    // DuckDB's utf8proc nfc_normalize; both implement Unicode canonical
    // composition, so the strings AND the codepoint-length contraction
    // must agree exactly.
    Query("t35_unicode_nfc",
      """SELECT doc_id,
        |  nfc_normalize(regexp_replace(substring(text, 1, 40),
        |                '([aeiou])', '\1' || chr(769), 'g')) AS nfc,
        |  length(regexp_replace(substring(text, 1, 40),
        |         '([aeiou])', '\1' || chr(769), 'g')) AS len_dec,
        |  length(nfc_normalize(regexp_replace(substring(text, 1, 40),
        |         '([aeiou])', '\1' || chr(769), 'g'))) AS len_nfc
        |FROM documents""".stripMargin) { (s, d) =>
      val dec = regexp_replace(substring(col("text"), 1, 40),
        "([aeiou])", "$1\u0301")
      Tables.documents(s, d).select(
        col("doc_id"),
        graft.plans.NfcNormalize(dec).as("nfc"),
        length(dec).cast("bigint").as("len_dec"),
        length(graft.plans.NfcNormalize(dec)).cast("bigint").as("len_nfc"))
    },

    // ---- t34: bigram LM perplexity scoring (CCNet-style quality signal) ----
    // Train an add-one-smoothed bigram model on 90% of the corpus, score
    // the held-out 10% by average log-probability — the
    // language-model-perplexity filter of a web-curation pipeline.
    // Numeric discipline is t18's: each term ln P(w|prev) rounds to 6dp
    // and sums as DECIMAL(18,6), so the per-doc reduction is exact and
    // order-free. Scale shape: the model is two hash aggregates (context
    // counts DERIVED from the bigram counts — no second explode of the
    // train corpus); scoring is an equi-join on the bigram key (shuffle
    // or broadcast by model size, AQE's call) + one per-doc aggregate.
    Query("t34_lm_perplexity",
      s"""WITH ${addOneLmCtes("documents WHERE doc_id % 10 = 0", "doc_id")}
        |SELECT doc_id, count(*) AS n_bigrams,
        |       round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS avg_logprob
        |FROM sc GROUP BY doc_id""".stripMargin) { (s, d) =>
      addOneNll(s, d, Tables.documents(s, d).filter(col("doc_id") % 10 === 0),
          col("doc_id"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("snll"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("snll").cast("double") / col("n_bigrams"), 6)
            .as("avg_logprob"))
    },

    // ---- T59: CCNet perplexity buckets (head / middle / tail) ---------------
    // CCNet's curation move one step past t34's scoring: split each
    // language's corpus into perplexity THIRDS — head (most fluent,
    // keep), middle, tail (drop or down-weight). The t34 add-one bigram
    // model (trained on the doc_id%10≠0 slice) scores EVERY scorable
    // doc; ntile(3) per language over (avg_logprob DESC, doc_id) is
    // deterministic both sides. Per-language output carries the bucket
    // counts and the 6dp-decimal mean score per bucket, so a scoring
    // drift anywhere upstream hash-mismatches. Scale: model join is
    // model-sized (AQE broadcasts it), the ntile window partitions by
    // language — per-language ordered state, the CCNet sharding unit.
    Query("t59_ccnet_buckets",
      s"""WITH ${addOneLmCtes("documents", "doc_id", "lang")},
        |docsc AS (SELECT doc_id, lang,
        |            round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS alp
        |          FROM sc GROUP BY 1, 2),
        |bkt AS (SELECT lang, alp,
        |          ntile(3) OVER (PARTITION BY lang
        |                         ORDER BY alp DESC, doc_id) AS bucket
        |        FROM docsc)
        |SELECT lang, CAST(bucket AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CAST(alp AS DECIMAL(18,6))) AS DOUBLE) AS sum_logprob
        |FROM bkt GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val docsc = addOneNll(s, d, Tables.documents(s, d), col("doc_id"), col("lang"))
        .groupBy("doc_id", "lang")
        .agg(round(sum(col("nll")).cast("double") / count(lit(1)), 6).as("alp"))
      val w = Window.partitionBy("lang").orderBy(col("alp").desc, col("doc_id"))
      docsc.withColumn("bucket", ntile(3).over(w))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("alp").cast("decimal(18,6)")).cast("double").as("sum_logprob"))
        .select(col("lang"), col("bucket").cast("long").as("bucket"),
          col("n_docs").cast("long").as("n_docs"), col("sum_logprob"))
    },

    // ---- T61: vocabulary coverage / OOV audit per language ------------------
    // The sentencepiece-style coverage check run before freezing a
    // vocabulary: against the global top-500 word vocab (frequency
    // rank, ties on the word), each language reports its token-level
    // OOV rate and distinct-type coverage — the number that says
    // whose text the vocab underserves. Vocab derivation is one hash
    // agg + a bounded ordered head; the scoring join broadcasts the
    // vocab. Exact integers everywhere; two fixed-order divisions.
    Query("t61_oov_coverage",
      """WITH w AS (SELECT lang, unnest(string_split(text, ' ')) AS word
        |           FROM documents),
        |v AS (SELECT word FROM (
        |        SELECT word, row_number() OVER (ORDER BY count(*) DESC, word) AS rn
        |        FROM w GROUP BY word) WHERE rn <= 500),
        |sc AS (SELECT lang, w.word,
        |              CASE WHEN v.word IS NULL THEN 1 ELSE 0 END AS oov
        |       FROM w LEFT JOIN v ON w.word = v.word)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(oov) AS BIGINT) AS n_oov,
        |       round(CAST(sum(oov) AS DOUBLE) / count(*), 6) AS oov_rate,
        |       CAST(count(DISTINCT CASE WHEN oov = 0 THEN word END) AS BIGINT)
        |         AS types_covered,
        |       CAST(count(DISTINCT word) AS BIGINT) AS types_total
        |FROM sc GROUP BY 1""".stripMargin) { (s, d) =>
      // vocab head + scoring share one tokenize
      val w = Materialize.pin(Tables.documents(s, d)
        .select(col("lang"), explode(tokens(col("text"))).as("word")))
      val vocab = w.groupBy("word").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(
          Window.orderBy(col("c").desc, col("word"))))
        .filter(col("rn") <= 500)
        .select(col("word").as("vword"))
      w.join(broadcast(vocab), col("word") === col("vword"), "left")
        .select(col("lang"), col("word"),
          when(col("vword").isNull, 1L).otherwise(0L).as("oov"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"), sum("oov").as("n_oov"),
          round(sum("oov").cast("double") / count(lit(1)), 6).as("oov_rate"),
          count_distinct(when(col("oov") === 0, col("word")))
            .as("types_covered"),
          count_distinct(col("word")).as("types_total"))
        .select(col("lang"), col("n_tokens").cast("long").as("n_tokens"),
          col("n_oov").cast("long").as("n_oov"), col("oov_rate"),
          col("types_covered").cast("long").as("types_covered"),
          col("types_total").cast("long").as("types_total"))
    },

    // ---- T62: ROUGE-L (LCS-based generation/summary evaluation) ------------
    // The reference-vs-candidate text metric (Lin 2004) every
    // generation-eval pipeline reports: recall/precision/F1 of the
    // token-level longest common subsequence. The engine runs the new
    // O(n·m) codegen LcsTokens kernel (plans/LcsTokens.scala — Spark has
    // levenshtein but nothing subsequence-based over token arrays); the
    // oracle replays the SAME DP as a nested list_reduce carrying the
    // DP row (the t47/w30 list-state precedent, tokens pre-mapped to
    // hash ids for the fold's type unification — equality-preserving up
    // to a 2^-63 collision). Pairing is data-driven: doc i vs doc
    // i + half, half = (max id + 1)/2. All the float work is three
    // divisions per pair off an exact integer LCS. Per-pair cost is
    // len², bounded by document length — never corpus-quadratic.
    Query("t62_rouge_l",
      """WITH half AS (SELECT (max(doc_id) + 1) // 2 AS h FROM documents),
        |p AS (
        |  SELECT r.doc_id AS ref_id, c.doc_id AS cand_id,
        |         list_transform(string_split(r.text, ' '),
        |                        t -> CAST(hash(t) // 2 AS BIGINT)) AS aid,
        |         list_transform(string_split(c.text, ' '),
        |                        t -> CAST(hash(t) // 2 AS BIGINT)) AS bid
        |  FROM documents r JOIN half ON r.doc_id < half.h
        |  JOIN documents c ON c.doc_id = r.doc_id + half.h),
        |l AS (
        |  SELECT ref_id, cand_id,
        |         len(aid) AS la, len(bid) AS lb,
        |         list_reduce(
        |           list_prepend(
        |             list_transform(range(0, len(bid) + 1),
        |                            z -> CAST(0 AS BIGINT)),
        |             list_transform(aid, t -> [t])),
        |           (prev, x) -> list_reduce(
        |             list_prepend(CAST([0] AS BIGINT[]),
        |               list_transform(range(1, len(bid) + 1),
        |                              j -> [CAST(j AS BIGINT)])),
        |             (acc, y) -> list_append(acc,
        |               greatest(prev[CAST(y[1] AS INT) + 1],
        |                        acc[len(acc)],
        |                        prev[CAST(y[1] AS INT)]
        |                        + CASE WHEN x[1] = bid[CAST(y[1] AS INT)]
        |                               THEN 1 ELSE 0 END))))
        |         [len(bid) + 1] AS lcs
        |  FROM p)
        |SELECT ref_id, cand_id, CAST(lcs AS BIGINT) AS lcs,
        |       CAST(la AS BIGINT) AS len_ref, CAST(lb AS BIGINT) AS len_cand,
        |       round(CAST(lcs AS DOUBLE) / la, 9) AS rouge_r,
        |       round(CAST(lcs AS DOUBLE) / lb, 9) AS rouge_p,
        |       CASE WHEN lcs = 0 THEN CAST(0.0 AS DOUBLE)
        |            ELSE round(2.0 * (CAST(lcs AS DOUBLE) / la)
        |                           * (CAST(lcs AS DOUBLE) / lb)
        |                       / (CAST(lcs AS DOUBLE) / la
        |                          + CAST(lcs AS DOUBLE) / lb), 9)
        |       END AS rouge_f
        |FROM l""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"),
        tokens(col("text")).as("tok"))
      val half = docs.agg(((max("doc_id") + 1) / 2).cast("long").as("h"))
      val pairs = docs.crossJoin(broadcast(half))
        .filter(col("doc_id") < col("h"))
        .select(col("doc_id").as("ref_id"), col("tok").as("a"),
          (col("doc_id") + col("h")).as("cand_id"))
        .join(docs.select(col("doc_id").as("cand_id"), col("tok").as("b")),
          "cand_id")
      val lcs = graft.plans.LcsTokens(col("a"), col("b"))
      val r = col("lcs").cast("double") / col("len_ref")
      val p = col("lcs").cast("double") / col("len_cand")
      pairs
        .select(col("ref_id"), col("cand_id"), lcs.as("lcs"),
          size(col("a")).cast("long").as("len_ref"),
          size(col("b")).cast("long").as("len_cand"))
        .select(col("ref_id"), col("cand_id"), col("lcs"),
          col("len_ref"), col("len_cand"),
          round(r, 9).as("rouge_r"), round(p, 9).as("rouge_p"),
          when(col("lcs") === 0, lit(0.0))
            .otherwise(round(lit(2.0) * r * p / (r + p), 9)).as("rouge_f"))
    },

    // ---- T38: DSIR importance weights (hashed n-gram LM ratio) ------------
    // Data Selection via Importance Resampling (Xie et al. 2023): score
    // every raw document by how target-like it is — the log-ratio of a
    // TARGET hashed-bigram unigram model (here: the English slice) to
    // the RAW corpus model. Both models are bucket-count tables over a
    // fixed 4096-bucket md5 hash space (t29's family), so model state is
    // O(4096) per side no matter the corpus size: one broadcast join, no
    // vocabulary explosion. Per-bucket log terms are 6dp-rounded
    // DECIMALs multiplied by exact per-doc counts (t34 discipline) —
    // partition-order proof. Plan: explode -> (doc, bucket) hash agg ->
    // broadcast term join -> doc hash agg; docs with <2 tokens surface
    // with weight 0 via the left join back to documents.
    Query("t38_dsir_weights",
      """WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
        |big AS (SELECT doc_id, lang,
        |               unnest(list_transform(range(1, len(w)),
        |                                     i -> w[i] || '_' || w[i+1])) AS g
        |        FROM tok),
        |tb AS (SELECT doc_id, lang, substr(md5(g), 1, 3) AS bucket FROM big),
        |db AS (SELECT doc_id, bucket, count(*) AS cnt FROM tb GROUP BY 1, 2),
        |bs AS (SELECT bucket, count(CASE WHEN lang = 'en' THEN 1 END) AS ct,
        |              count(*) AS cr
        |       FROM tb GROUP BY 1),
        |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM bs),
        |term AS (SELECT bucket,
        |                CAST(round(ln((ct + 0.5) / (nt + 2048.0))
        |                           - ln((cr + 0.5) / (nr + 2048.0)), 6)
        |                     AS DECIMAL(18,6)) AS term
        |         FROM bs, tot),
        |ws AS (SELECT db.doc_id, sum(db.cnt * term.term) AS wsum
        |       FROM db JOIN term USING (bucket) GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(ws.wsum, 0) AS DOUBLE) AS weight,
        |       coalesce(ws.wsum, 0) > 0 AS kept
        |FROM documents d LEFT JOIN ws USING (doc_id)""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        // bind the split ONCE per row: element_at(w, i) inside the HOF
        // lambda would otherwise re-split the text per element (the t25
        // expression-DAG trap — HOFs are interpreted, no codegen CSE)
        val bigrams = graft.functions.TextFunctions.bind1(
          split(col("text"), " ")) { w =>
          // sequence(1, 0) would generate DESCENDING — guard short docs
          when(size(w) >= 2,
            transform(sequence(lit(1), size(w) - 1),
              i => concat(element_at(w, i), lit("_"), element_at(w, i + 1))))
            .otherwise(array().cast("array<string>"))
        }
        val tb = docs.select(col("doc_id"), col("lang"),
          explode(bigrams).as("g"))
          .select(col("doc_id"), col("lang"),
            substring(md5(col("g")), 1, 3).as("bucket"))
        // lang rides the group key (functionally dependent on doc_id,
        // zero extra groups) so the bucket stats derive from the SMALL
        // aggregated table, and db feeds both legs (model stats + doc
        // scores) — localCheckpoint it or the explode+md5 pass runs
        // once per reference
        val db = Materialize.pin(tb.groupBy("doc_id", "lang", "bucket")
          .agg(count(lit(1)).as("cnt")))
        val bs = db.groupBy("bucket").agg(
          sum(when(col("lang") === "en", col("cnt")).otherwise(0L)).as("ct"),
          sum(col("cnt")).as("cr"))
        val tot = bs.agg(sum("ct").as("nt"), sum("cr").as("nr"))
        val term = bs.crossJoin(broadcast(tot)).select(col("bucket"),
          round(log((col("ct") + 0.5) / (col("nt") + 2048.0))
            - log((col("cr") + 0.5) / (col("nr") + 2048.0)), 6)
            .cast("decimal(18,6)").as("term"))
        val ws = db.join(broadcast(term), "bucket")
          .groupBy("doc_id").agg(sum(col("cnt") * col("term")).as("wsum"))
        docs.select(col("doc_id")).join(ws, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("wsum"), lit(0)).cast("double").as("weight"),
            (coalesce(col("wsum"), lit(0)) > 0).as("kept"))
      }
    },

    // ---- T39: token-distribution entropy per document ---------------------
    // Shannon entropy of each doc's token histogram — the gibberish/
    // boilerplate axis quality filters cut on (low entropy = repeated
    // boilerplate, max entropy = all-distinct tokens). Identity used:
    // H = ln(n) - (1/n) * sum_t cnt_t * ln(cnt_t), so the only floats
    // are per-DISTINCT-token ln terms, 6dp-rounded and DECIMAL-summed
    // (t34 discipline) — the per-doc epilogue is fixed-order on exact
    // aggregates. Plan: explode -> (doc, token) hash agg -> doc hash
    // agg; docs with no tokens surface via the left join with H = 0.
    Query("t39_token_entropy",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |tc AS (SELECT doc_id, t, count(*) AS cnt FROM tok GROUP BY 1, 2),
        |agg AS (SELECT doc_id, sum(cnt) AS n, count(*) AS n_distinct,
        |               sum(CAST(round(cnt * ln(cnt), 6) AS DECIMAL(18,6))) AS terms
        |        FROM tc GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(a.n, 0) AS BIGINT) AS n_tokens,
        |       CAST(coalesce(a.n_distinct, 0) AS BIGINT) AS n_distinct,
        |       CASE WHEN a.n IS NULL THEN 0.0
        |            ELSE round(ln(a.n) - CAST(a.terms AS DOUBLE) / a.n, 6) END AS entropy
        |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        val tc = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
          .groupBy("doc_id", "t").agg(count(lit(1)).as("cnt"))
        val agg = tc.groupBy("doc_id").agg(
          sum(col("cnt")).as("n"), count(lit(1)).as("n_distinct"),
          sum(round(col("cnt") * log(col("cnt")), 6).cast("decimal(18,6)"))
            .as("terms"))
        docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n"), lit(0L)).cast("long").as("n_tokens"),
            coalesce(col("n_distinct"), lit(0L)).cast("long").as("n_distinct"),
            when(col("n").isNull, 0.0)
              .otherwise(round(log(col("n")) - col("terms").cast("double") / col("n"), 6))
              .as("entropy"))
      }
    },

    // ---- T41: Gopher repetition-rule battery -------------------------------
    // The Rae et al. (Gopher) repetition filters as ONE row per doc:
    // top-{2,3,4}-gram fraction (token mass of the single most frequent
    // n-gram) and dup-{5..8}-gram fraction (token mass of all n-grams
    // occurring twice or more). All fractions are exact-integer ratios
    // (count * n over token count) with one rounded division each.
    // Plan: one bound split, 7 gram sizes exploded in one generator,
    // a (doc, n, gram) hash aggregate, then a conditional-sum pivot
    // back to one row per doc — two exchanges total, no window.
    // DEFAULT = the zero-exchange local form (sorted-gram run-length
    // aggregate within the row — see gopherBatteryLocal); t46 below is
    // the string-gram groupBy twin under the SAME oracle (fractions are
    // computed from gram COUNTS, so all three forms emit identical
    // output). The hashed-exchange form stays equivalence-pinned in
    // HashedGramTwinSpec.
    Query("t41_gopher_repetition", GopherOracleSql) {
      (s, d) => gopherBatteryLocal(s, d)
    },

    // ---- T46: Gopher battery string-gram oracle twin ------------------------
    Query("t46_gopher_strgram_twin", GopherOracleSql) {
      (s, d) => gopherBattery(s, d, hashed = false)
    },

    // ---- T47: sequence packing (FFD bins within token shards) ------------
    // The training-run step after chunking/sharding: pack whole documents
    // into fixed-128-token sequences with first-fit-decreasing, never
    // splitting a doc (contrast t32+t12's concat-and-chunk). Two-level
    // so the sequential part stays bounded: t12's distributed prefix-sum
    // shards (~2000 tokens each) cap every FFD group, making the plan
    // one shuffle by shard at any corpus size. The oracle replays the
    // exact algorithm — shard formula verbatim from t12, then a
    // recursive CTE carrying the bin-remainder LIST through first-fit
    // (the w30 list-state precedent); integer token counts, so
    // cross-engine agreement is exact. Measured fill on this corpus:
    // 94.3% of 128-token capacity, max load = 128 (never over).
    Query("t47_sequence_pack",
      """WITH RECURSIVE t0 AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |sh AS (
        |  SELECT doc_id, n,
        |         CAST(floor((CAST(sum(n) OVER (ORDER BY doc_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |               - n) / 2000) AS BIGINT) AS shard
        |  FROM t0),
        |r AS (
        |  SELECT shard, doc_id, n,
        |         row_number() OVER (PARTITION BY shard ORDER BY n DESC, doc_id) AS rk
        |  FROM sh),
        |p AS (
        |  SELECT shard, rk, doc_id, CAST(1 AS BIGINT) AS bin,
        |         [CAST(128 - n AS BIGINT)] AS rem
        |  FROM r WHERE rk = 1
        |  UNION ALL
        |  SELECT r.shard, r.rk, r.doc_id,
        |         CASE WHEN coalesce(list_position(list_transform(p.rem, x -> x >= r.n), true), 0) = 0
        |              THEN CAST(len(p.rem) + 1 AS BIGINT)
        |              ELSE CAST(list_position(list_transform(p.rem, x -> x >= r.n), true) AS BIGINT) END,
        |         CASE WHEN coalesce(list_position(list_transform(p.rem, x -> x >= r.n), true), 0) = 0
        |              THEN list_append(p.rem, CAST(128 - r.n AS BIGINT))
        |              ELSE list_transform(range(1, len(p.rem) + 1),
        |                     j -> CASE WHEN j = list_position(list_transform(p.rem, x -> x >= r.n), true)
        |                               THEN p.rem[CAST(j AS INT)] - r.n
        |                               ELSE p.rem[CAST(j AS INT)] END) END
        |  FROM p JOIN r ON r.shard = p.shard AND r.rk = p.rk + 1)
        |SELECT doc_id, shard, bin FROM p""".stripMargin) { (s, d) =>
      val withShards = graft.operators.Packing.tokenShards(
        Tables.documents(s, d)
          .select(col("doc_id"), tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", budget = 2000, bucketWidth = 128)
      graft.operators.Packing.packSequences(
        withShards, "doc_id", "n_tokens", "shard", seqLen = 128)
    },

    // ---- T40: cross-split contamination audit (chunk granularity) ---------
    // The AUDIT for t36's leakage-safe split: domain-coherent assignment
    // protects whole domains, but identical PASSAGES recur across
    // domains and land in different splits — the substring-level leak
    // that inflates eval numbers (the reason decontamination runs at
    // n-gram, not document, granularity). Composes t36's split rule
    // with t22's 12-token chunking: for every (split_a, split_b) pair,
    // how many distinct chunk hashes span the pair and how many
    // cross-split doc pairs they induce. Plan: chunk explode -> one
    // (chunk-hash, split) aggregate (distinct docs per cell), pair join
    // on hash (multi-split hashes only — tiny), exact counts.
    Query("t40_split_contamination",
      s"""WITH u AS (SELECT doc_id, text, $UrlFixtureSql AS url FROM documents),
         |d AS (SELECT doc_id, text,
         |        regexp_replace(regexp_replace(lower(regexp_extract(url,
         |          '^[^:]+://([^/?#]*)', 1)), ':(443|80)$$', ''), '^www\\.', '')
         |          AS domain
         |      FROM u),
         |sp AS (SELECT doc_id, text,
         |         CASE WHEN CAST('0x' || substr(md5(domain), 1, 1) AS BIGINT) < 12
         |                THEN 'train'
         |              WHEN CAST('0x' || substr(md5(domain), 1, 1) AS BIGINT) < 14
         |                THEN 'val'
         |              ELSE 'test' END AS split
         |       FROM d),
         |tk AS (SELECT doc_id, split, string_split(text, ' ') AS w FROM sp),
         |ix AS (SELECT doc_id, split, w,
         |              unnest(range(0, CAST(ceil(len(w) / 12.0) AS BIGINT))) AS ci
         |       FROM tk),
         |ch AS (SELECT doc_id, split,
         |              md5(array_to_string(w[(ci*12 + 1):(ci*12 + 12)], ' ')) AS h
         |       FROM ix),
         |hs AS (SELECT h, split, count(DISTINCT doc_id) AS n FROM ch GROUP BY 1, 2)
         |SELECT a.split AS split_a, b.split AS split_b,
         |       CAST(count(*) AS BIGINT) AS n_leaked_chunks,
         |       CAST(sum(a.n * b.n) AS BIGINT) AS n_doc_pairs
         |FROM hs a JOIN hs b ON a.h = b.h AND a.split < b.split
         |GROUP BY 1, 2""".stripMargin) {
      (s, d) => {
        import graft.functions.Web
        val nib = conv(substring(md5(col("domain")), 1, 1), 16, 10).cast("int")
        // null text -> no chunks (size(null) = -1 would flip sequence()
        // into descending); split("") -> [""] -> one md5("") chunk, both
        // matching the oracle's range()/unnest semantics
        val chunks = bind1(split(col("text"), " ")) { w =>
          when(size(w) >= 1,
            transform(sequence(lit(0L), ceil(size(w) / 12.0).cast("long") - 1),
              ci => md5(array_join(
                slice(w, (ci * 12 + 1).cast("int"), lit(12)), " "))))
            .otherwise(array().cast("array<string>"))
        }
        // referenced by both legs of the pair join
        val hs = Materialize.pin(Tables.documents(s, d)
          .select(col("doc_id"), col("text"),
            Web.urlHost(expr(UrlFixtureSql)).as("domain"))
          .withColumn("split",
            when(nib < 12, "train").when(nib < 14, "val").otherwise("test"))
          .select(col("doc_id"), col("split"), explode(chunks).as("h"))
          .groupBy("h", "split").agg(countDistinct(col("doc_id")).as("n")))
        val b = hs.select(col("h").as("bh"), col("split").as("split_b"),
          col("n").as("bn"))
        hs.join(b, col("h") === col("bh") && col("split") < col("split_b"))
          .groupBy(col("split").as("split_a"), col("split_b"))
          .agg(count(lit(1)).cast("long").as("n_leaked_chunks"),
            sum(col("n") * col("bn")).cast("long").as("n_doc_pairs"))
      }
    },

    // ---- t42: C4-style duplicate-span REMOVAL (corpus rewrite) -------------
    // The C4 pipeline (Raffel et al. 2020, "Exploring the Limits of
    // Transfer Learning", §2.2) discards all but one occurrence of any
    // three-sentence span repeated across the corpus and keeps the
    // surviving text. t20/t31 DETECT duplicated windows; this is the
    // REWRITE: the corpus comes back out with the duplicated spans cut
    // and documents reconstructed from the surviving pieces. The
    // punctuation-free synthetic corpus has no sentences, so the unit is
    // a fixed 10-token block ("sentence"), span = 3 consecutive blocks.
    // Keeper = first occurrence by (doc_id, block) — later occurrences
    // drop all 3 blocks (C4's greedy removal: an overlapping kept span
    // may still lose blocks to a different duplicated span, exactly like
    // the reference implementation's lazy cut).
    //
    // Plan: block construction is a per-row HOF (slice/transform — no
    // token-level shuffle); spans via two lead()s on a doc-partitioned
    // window (concat null-propagates past the doc tail on both engines);
    // keeper pick shuffles 16-byte md5 span keys once; only DUPLICATE
    // occurrences explode into removal rows (tiny under low dup rates);
    // anti-join + one ordered doc re-agg. Every shuffle is keyed by
    // doc_id or span hash — the shape is linear in corpus size at 100 TB.
    Query("t42_span_dedup_rewrite",
      """WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t
        |              FROM documents),
        |units AS (
        |  SELECT doc_id, u,
        |         array_to_string(list_slice(t, CAST(u * 10 + 1 AS BIGINT),
        |                                    CAST(u * 10 + 10 AS BIGINT)), ' ') AS ut
        |  FROM (SELECT doc_id, t,
        |          unnest(range(0, CAST(ceil(len(t) / 10.0) AS BIGINT))) AS u
        |        FROM toks)),
        |spans AS (
        |  SELECT doc_id, u,
        |         md5(ut || chr(1)
        |             || lead(ut, 1) OVER (PARTITION BY doc_id ORDER BY u) || chr(1)
        |             || lead(ut, 2) OVER (PARTITION BY doc_id ORDER BY u)) AS k
        |  FROM units),
        |occ AS (
        |  SELECT doc_id, u,
        |         row_number() OVER (PARTITION BY k ORDER BY doc_id, u) AS rn
        |  FROM spans WHERE k IS NOT NULL),
        |rem AS (
        |  SELECT DISTINCT doc_id, u + g.d AS ru
        |  FROM occ CROSS JOIN generate_series(0, 2) g(d) WHERE rn > 1),
        |keep AS (
        |  SELECT un.doc_id, un.u, un.ut
        |  FROM units un LEFT JOIN rem r ON r.doc_id = un.doc_id AND r.ru = un.u
        |  WHERE r.doc_id IS NULL),
        |agg AS (
        |  SELECT doc_id, string_agg(ut, ' ' ORDER BY u) AS clean_text,
        |         count(*) AS n_kept
        |  FROM keep GROUP BY 1)
        |SELECT tk.doc_id, coalesce(a.clean_text, '') AS clean_text,
        |       CAST(CAST(ceil(len(tk.t) / 10.0) AS BIGINT)
        |            - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
        |FROM toks tk LEFT JOIN agg a ON a.doc_id = tk.doc_id""".stripMargin) {
      (s, d) => graft.operators.SpanDedup.rewrite(
        Tables.documents(s, d).select("doc_id", "text"), 10)
    },

    // ---- t43: winnowing fingerprints + overlap pairs -----------------------
    // Schleimer/Wilkerson/Aiken 2003 ("Winnowing: local algorithms for
    // document fingerprinting"): hash every k-gram (k=8), slide a
    // w=16-hash window, keep each window's MINIMUM hash (rightmost on
    // ties — the fixed-width key hash||zero-padded(MAX-pos) makes string
    // MIN implement exactly that), and the selected ~2/(w+1) of hashes
    // GUARANTEE detection of any shared substring of length >= w+k-1=23.
    // Measured here: 17,282 fingerprints from 145,674 k-gram hashes at
    // sf0.01 = 11.9% (theory 11.8%). t20 ships every window to the
    // exchange; winnowing is the 100 TB answer for substring overlap —
    // the ENTIRE selection runs as per-row HOFs (hash array -> sliding
    // array_min -> array_distinct), so nothing shuffles until the 12%
    // survivors explode. Stop-fingerprints (df > 20 docs — the tiny
    // synthetic vocabulary's analog of common boilerplate) are dropped
    // before pairing, the LSH bucket-cap convention.
    // DEFAULT row = the production path (VERDICT r8 item 1): the fused
    // WinnowingHashes codegen kernel — one byte scan, XXH64 grams, O(n)
    // monotonic-deque sliding min, 8-byte hashes end-to-end. A different
    // (equally valid) hash family than md5, so the selected positions —
    // and hence the overlap pairs — are not SQL-replayable: rows-only in
    // the gate, with (a) t44 below as the full md5-oracle twin of the
    // pipeline semantics (the s03↔s13 precedent) and (b) WinnowingSpec
    // pinning the family-independent contracts (detection guarantee,
    // ~2/(w+1) density) on THIS path.
    Query.noOracle("t43_winnowing_overlap") {
      (s, d) => graft.operators.Winnowing.overlapPairs(
        Tables.documents(s, d).select("doc_id", "text"),
        k = 8, w = 16, maxDocs = 20, minShared = 8, hashed = true)
    },

    // ---- T44: winnowing oracle twin (md5 family) ---------------------------
    // t43's pipeline semantics under a cross-engine hash family: every
    // stage (k-gram hash, rightmost-tie sliding min, distinct, stop-
    // fingerprint cap, pairing) replays in DuckDB bit-for-bit. This row
    // pins the ALGORITHM in the gate; t43 above is the scale path.
    Query("t44_winnowing_oracle",
      """WITH pos AS (
        |  SELECT doc_id, u AS p,
        |         substring(md5(substring(text, u + 1, 8)), 1, 16) AS h,
        |         len(text) AS n
        |  FROM documents, LATERAL unnest(range(0, len(text) - 7)) AS g(u)),
        |sel AS (
        |  SELECT doc_id,
        |         min(h || printf('%012d', 999999999999 - p))
        |           OVER (PARTITION BY doc_id ORDER BY p
        |                 ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS key,
        |         p, n
        |  FROM pos),
        |fp AS (
        |  SELECT DISTINCT doc_id, substring(key, 1, 16) AS h
        |  FROM sel WHERE p <= n - 8 - 15),
        |df AS (SELECT h, count(*) AS nd FROM fp GROUP BY 1),
        |kept AS (SELECT f.doc_id, f.h FROM fp f
        |         JOIN df ON df.h = f.h AND df.nd <= 20),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(count(*) AS BIGINT) AS n_shared
        |  FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_shared FROM pairs WHERE n_shared >= 8""".stripMargin) {
      (s, d) => graft.operators.Winnowing.overlapPairs(
        Tables.documents(s, d).select("doc_id", "text"),
        k = 8, w = 16, maxDocs = 20, minShared = 8)
    },

    // ---- T48: Zipf rank-frequency fit (corpus-health diagnostic) -----------
    // A natural corpus's token frequencies follow freq ∝ rank^s with
    // s ≈ -1; a slope far from -1 flags boilerplate floods (flat head)
    // or token-salad (steep tail) — the corpus-level companion to t39's
    // per-doc entropy. Per language: rank the vocabulary by count
    // (deterministic (count DESC, token) tiebreak), ln-transform the
    // top-50 (rank, count) points with the t18 6dp-DECIMAL discipline,
    // and fit by exact-decimal least squares (the a29 sufficient-stats
    // epilogue: every sum is exact, doubles only in the final
    // fixed-order division). One token scan feeds vocab, ranks, and
    // type counts.
    Query("t48_zipf_fit",
      """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS t
        |             FROM documents),
        |v AS (SELECT lang, t, count(*) AS c FROM tok GROUP BY 1, 2),
        |nt AS (SELECT lang, count(*) AS n_types FROM v GROUP BY 1),
        |rk AS (SELECT lang, c,
        |              row_number() OVER (PARTITION BY lang
        |                                 ORDER BY c DESC, t) AS rank
        |       FROM v),
        |top AS (SELECT lang,
        |               CAST(round(ln(rank * 1.0), 6) AS DECIMAL(18,6)) AS x,
        |               CAST(round(ln(c * 1.0), 6) AS DECIMAL(18,6)) AS y
        |        FROM rk WHERE rank <= 50),
        |a AS (SELECT lang, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |             sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
        |      FROM top GROUP BY 1)
        |SELECT a.lang, CAST(nt.n_types AS BIGINT) AS n_types,
        |       round(CAST(n * sxy - sx * sy AS DOUBLE)
        |             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
        |       round(CAST(n * sxy - sx * sy AS DOUBLE)
        |             * CAST(n * sxy - sx * sy AS DOUBLE)
        |             / (CAST(n * sxx - sx * sx AS DOUBLE)
        |                * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
        |FROM a JOIN nt ON a.lang = nt.lang""".stripMargin) {
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("lang"), explode(tokens(col("text"))).as("t"))
        // ranks + type counts share this one agg
        val vocab = Materialize.pin(tok.groupBy("lang", "t").agg(count(lit(1)).as("c")))
        val nTypes = vocab.groupBy("lang").agg(count(lit(1)).as("n_types"))
        val ranked = vocab.withColumn("rank", row_number().over(
          Window.partitionBy("lang").orderBy(col("c").desc, col("t"))))
        val top = ranked.filter(col("rank") <= 50)
          .select(col("lang"),
            round(log(col("rank").cast("double")), 6)
              .cast("decimal(18,6)").as("x"),
            round(log(col("c").cast("double")), 6)
              .cast("decimal(18,6)").as("y"))
        val a = top.groupBy("lang").agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("y") * col("y")).as("syy"))
        val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
        val denx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
        val deny = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
        a.join(nTypes, "lang")
          .select(col("lang"), col("n_types").cast("long").as("n_types"),
            round(num / denx, 6).as("zipf_slope"),
            round(num * num / (denx * deny), 6).as("r2"))
      }
    },

    // ---- t49: Kneser-Ney smoothed bigram LM -----------------------------------
    // The n-gram LM estimator behind t18/t34's add-one forms, done
    // properly: absolute discounting (D = 0.75) with CONTINUATION
    // back-off — P(w2|w1) = max(c-D,0)/c(w1·) + D·N1+(w1·)/c(w1·) ·
    // N1+(·w2)/N1+(··). Everything derives from ONE bigram-count
    // aggregate (occurrence counts, not distinct shingles): two
    // re-aggregations by w1/w2, a 1-row type total crossJoin-broadcast,
    // joins back — each stage hash-keyed and map-side combinable; no
    // token ever leaves its doc partition before the count. All-ratio
    // double math in pinned operation order, 6dp rounding.
    Query("t49_kneser_ney",
      s"""WITH ${wordBigramCtes()},
        |$KnStatCtes
        |SELECT bc.w1, bc.w2, CAST(c AS BIGINT) AS c,
        |       round($KnProb, 6) AS p_kn
        |FROM bc JOIN w1s USING (w1) JOIN w2s USING (w2), tot
        |WHERE c >= 5""".stripMargin) {
      (s, d) => {
        knScored(wordBigrams(s, d))
          .select(col("w1"), col("w2"), col("c").cast("long").as("c"),
            round(knProb, 6).as("p_kn"))
      }
    },

    // ---- T55: per-doc cross-entropy under the KN bigram LM -------------------------
    // t34 scores docs under a unigram LM; this scores them under t49's
    // Kneser-Ney BIGRAM model — the stronger fluency signal a quality
    // pipeline actually wants. The LM table (c >= 5 bigrams) is
    // vocab²-bounded and joins broadcast-sized; per-bigram -ln p rounds
    // to 6 dp DECIMAL so per-doc sums are order-independent (the t18
    // discipline). OOV bigrams are skipped; docs with no scored bigram
    // emit nothing (their fluency is undefined under this LM).
    Query("t55_kn_doc_xent",
      s"""WITH ${wordBigramCtes("doc_id")},
        |$KnStatCtes,
        |lm AS (
        |  SELECT w1, w2,
        |         CAST(round(-ln(round($KnProb, 6)), 6)
        |              AS DECIMAL(18,6)) AS nll
        |  FROM bc JOIN w1s USING (w1) JOIN w2s USING (w2), tot
        |  WHERE c >= 5)
        |SELECT doc_id, count(*) AS n_scored,
        |       round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS kn_xent
        |FROM big JOIN lm ON split_part(big.s, ' ', 1) = lm.w1
        |                AND split_part(big.s, ' ', 2) = lm.w2
        |GROUP BY 1""".stripMargin) {
      (s, d) => {
        // the LM aggregates + the scoring join share it
        val big = Materialize.pin(wordBigrams(s, d, "doc_id"))
        val lm = knScored(big)
          .select(col("w1"), col("w2"),
            round(-log(round(knProb, 6)), 6).cast("decimal(18,6)").as("nll"))
        big.join(broadcast(lm), Seq("w1", "w2"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_scored"), sum("nll").as("snll"))
          .select(col("doc_id"), col("n_scored"),
            round(col("snll").cast("double") / col("n_scored"), 6).as("kn_xent"))
      }
    },

    // ---- T54: language-ID confusion matrix --------------------------------------
    // The evaluation table for t03's classifier against the stored lang
    // labels: per (true, predicted) cell, count and within-true-language
    // fraction — the standard quality readout before trusting a
    // heuristic at corpus scale. One scan computes predictions; the
    // matrix is a label-cardinality-sized aggregate; the fraction joins
    // the per-language total back broadcast-sized.
    Query("t54_langid_confusion",
      """WITH pred AS (
        |  SELECT doc_id, lang,
        |         CASE WHEN en >= es AND en >= de THEN 'en'
        |              WHEN es >= de THEN 'es' ELSE 'de' END AS pred_lang
        |  FROM (SELECT doc_id, lang,
        |          len(list_filter(string_split(text, ' '),
        |              t -> t IN ('the','a','of','and'))) AS en,
        |          len(list_filter(string_split(text, ' '),
        |              t -> t IN ('el','la','de','y'))) AS es,
        |          len(list_filter(string_split(text, ' '),
        |              t -> t IN ('der','die','das','und'))) AS de
        |        FROM documents)),
        |m AS (SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY 1, 2),
        |t AS (SELECT lang, sum(n) AS tot FROM m GROUP BY 1)
        |SELECT m.lang, m.pred_lang, CAST(n AS BIGINT) AS n,
        |       CAST(n AS DOUBLE) / tot AS frac
        |FROM m JOIN t ON m.lang = t.lang""".stripMargin) {
      (s, d) => {
        val pred = Tables.documents(s, d).select(col("lang"),
          langId(col("text"), markerLists).as("pred_lang"))
        // totals + the output join share the one scan; lang x lang
        val m = Materialize.small(pred.groupBy("lang", "pred_lang").agg(count(lit(1)).as("n")))
        val t = m.groupBy("lang").agg(sum("n").as("tot"))
        m.join(broadcast(t), "lang")
          .select(col("lang"), col("pred_lang"), col("n").cast("long").as("n"),
            (col("n").cast("double") / col("tot")).as("frac"))
      }
    },

    // ---- T53: keyword-in-context concordance ----------------------------------
    // The KWIC view corpus linguists (and prompt-injection auditors) pull
    // for a term: every occurrence of the query word with ±3 tokens of
    // context, positions included. One posexplode carries the token
    // ARRAY alongside its positions, so the context window is a pure
    // slice — no join back to the document, no second tokenization.
    // Occurrence count tracks the term frequency, never the corpus.
    Query("t53_kwic_concordance",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |occ AS (
        |  SELECT doc_id, tk, posn FROM (
        |    SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS posn
        |    FROM t)
        |  WHERE tk[posn] = 'table')
        |SELECT doc_id, CAST(posn AS BIGINT) AS posn,
        |       array_to_string(tk[greatest(posn - 3, 1):least(posn + 3, len(tk))],
        |                       ' ') AS context
        |FROM occ""".stripMargin) {
      (s, d) => {
        val t = Tables.documents(s, d)
          .select(col("doc_id"), tokens(col("text")).as("tk"))
        t.select(col("doc_id"), col("tk"), posexplode(col("tk")).as(Seq("p", "w")))
          .filter(col("w") === "table")
          .select(col("doc_id"), (col("p") + 1).cast("long").as("posn"),
            concat_ws(" ", slice(col("tk"),
              greatest(col("p") + 1 - 3, lit(1)),
              least(col("p") + 1 + 3, size(col("tk")))
                - greatest(col("p") + 1 - 3, lit(1)) + 1)).as("context"))
      }
    },

    // ---- T50: per-document TF-IDF keyword extraction ------------------------
    // t17 derives the corpus vocabulary table; this row uses it the way a
    // curation/labeling pipeline does — the top-3 characteristic terms
    // PER DOCUMENT by tf*idf. idf is the t17 6-dp decimal; tf is an
    // exact count, so the score is an exact DECIMAL product and the
    // per-doc rank (score DESC, term) is deterministic without any float
    // comparison. Shapes: one token explode feeding both tf and df (the
    // checkpointed tf table IS the distinct doc-term list), vocab joins
    // back broadcast-sized, top-k is a per-doc window — never a global
    // sort.
    Query("t50_tfidf_keywords",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS nd FROM documents),
        |sc AS (SELECT doc_id, t, tf,
        |              CAST(tf AS DECIMAL(18,0))
        |                * CAST(round(ln((SELECT nd FROM n) * 1.0 / df), 6)
        |                       AS DECIMAL(18,6)) AS score
        |       FROM tf JOIN df USING (t)),
        |r AS (SELECT doc_id, t, tf, score,
        |             row_number() OVER (PARTITION BY doc_id
        |                                ORDER BY score DESC, t) AS rk
        |      FROM sc)
        |SELECT doc_id, CAST(rk AS BIGINT) AS rk, t AS term,
        |       CAST(tf AS BIGINT) AS tf, CAST(score AS DOUBLE) AS score
        |FROM r WHERE rk <= 3""".stripMargin) {
      (s, d) => {
        val docs = Tables.documents(s, d)
        val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        // df and the score join share the one count
        val tf = Materialize.pin(tok.groupBy("doc_id", "t").agg(count(lit(1)).as("tf")))
        val nd = docs.agg(count(lit(1)).as("nd"))
        val idf = tf.groupBy("t").agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(nd))
          .select(col("t"),
            round(log(col("nd") * lit(1.0) / col("df")), 6)
              .cast("decimal(18,6)").as("idf"))
        val sc = tf.join(idf, "t")
          .select(col("doc_id"), col("t"), col("tf"),
            (col("tf").cast("decimal(18,0)") * col("idf")).as("score"))
        val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("t"))
        sc.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
          .select(col("doc_id"), col("rk").cast("long").as("rk"),
            col("t").as("term"), col("tf").cast("long").as("tf"),
            col("score").cast("double").as("score"))
      }
    },

    // ---- T51: Heaps' law vocabulary-growth fit --------------------------------
    // V(N) ~ k*N^beta: does vocabulary keep growing, and how fast — the
    // corpus-health diagnostic behind t48's Zipf fit. New-vocabulary mass
    // per doc comes from first occurrences (min doc_id per term, the w21
    // cumulative-distinct trick — no expanding DISTINCT window), both
    // cumulatives run TWO-LEVEL (bucket prefix + partitioned within-
    // bucket window, no global single-partition sort), and the log-log
    // least-squares fit sums 6-dp decimal points exactly (products widen
    // to DECIMAL(38,12)), with one double epilogue for beta and k.
    Query("t51_heaps_law",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |firstq AS (SELECT t, min(doc_id) AS fd FROM tok GROUP BY 1),
        |newv AS (SELECT fd AS d, count(*) AS nv FROM firstq GROUP BY 1),
        |ntok AS (SELECT doc_id AS d, count(*) AS nt FROM tok GROUP BY 1),
        |ser AS (SELECT ntok.d, nt, coalesce(nv, 0) AS nv
        |        FROM ntok LEFT JOIN newv ON ntok.d = newv.d),
        |cum AS (SELECT d, sum(nt) OVER (ORDER BY d) AS cn,
        |               sum(nv) OVER (ORDER BY d) AS cv
        |        FROM ser),
        |pts AS (SELECT d,
        |               CAST(round(ln(CAST(cn AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
        |               CAST(round(ln(CAST(cv AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
        |        FROM cum WHERE d % 10 = 9),
        |s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |             sum(CAST(x * y AS DECIMAL(38,12))) AS sxy,
        |             sum(CAST(x * x AS DECIMAL(38,12))) AS sxx
        |      FROM pts),
        |b AS (SELECT n, sx, sy,
        |             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS beta
        |      FROM s
        |      WHERE CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0)
        |SELECT CAST(n AS BIGINT) AS n_points, beta,
        |       round(exp((CAST(sy AS DOUBLE) - beta * CAST(sx AS DOUBLE)) / n), 6)
        |         AS heaps_k
        |FROM b""".stripMargin) {
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        val firstq = tok.groupBy("t").agg(min("doc_id").as("fd"))
        val newv = firstq.groupBy(col("fd").as("d")).agg(count(lit(1)).as("nv"))
        val ntok = tok.groupBy(col("doc_id").as("d")).agg(count(lit(1)).as("nt"))
        // bucket prefix + within-bucket pass share it
        val ser = Materialize.pin(ntok.join(newv.toDF("d2", "nv"), col("d") === col("d2"), "left")
          .select(col("d"), col("nt"), coalesce(col("nv"), lit(0L)).as("nv"))
          .withColumn("bkt", expr("d div 256")))
        // two-level cumulative sums (a45 pattern): O(buckets) prefix window,
        // partitioned within-bucket windows — no global one-partition sort
        val bs = ser.groupBy("bkt").agg(sum("nt").as("bnt"), sum("nv").as("bnv"))
        val wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
        val bpre = bs.select(col("bkt"),
          coalesce(sum("bnt").over(wb), lit(0L)).as("pnt"),
          coalesce(sum("bnv").over(wb), lit(0L)).as("pnv"))
        val ww = Window.partitionBy("bkt").orderBy("d")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = ser.join(broadcast(bpre), "bkt")
          .select(col("d"),
            (col("pnt") + sum("nt").over(ww)).as("cn"),
            (col("pnv") + sum("nv").over(ww)).as("cv"))
        val pts = cum.filter(col("d") % 10 === 9)
          .select(
            round(log(col("cn").cast("double")), 6).cast("decimal(18,6)").as("x"),
            round(log(col("cv").cast("double")), 6).cast("decimal(18,6)").as("y"))
        val sums = pts.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum((col("x") * col("y")).cast("decimal(38,12)")).as("sxy"),
          sum((col("x") * col("x")).cast("decimal(38,12)")).as("sxx"))
        sums
          // guard expression == the beta denominator, so the filter and the
          // division agree bit-for-bit in both engines (ANSI 0/0 protection)
          .filter(col("n").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double") =!= 0.0)
          .select(col("n"), col("sx"), col("sy"),
            ((col("n").cast("double") * col("sxy").cast("double")
              - col("sx").cast("double") * col("sy").cast("double"))
              / (col("n").cast("double") * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double"))).as("beta"))
          .select(col("n").cast("long").as("n_points"), col("beta"),
            round(exp((col("sy").cast("double") - col("beta") * col("sx").cast("double"))
              / col("n")), 6).as("heaps_k"))
      }
    },

    // ---- T52: PMI collocations ---------------------------------------------
    // Which word pairs co-occur far beyond chance — the collocation table
    // (new-term mining, tokenizer-merge candidates) on top of t49's
    // bigram counts. PMI = ln(p(xy) / (p(x)p(y))) with bigram mass from
    // the bigram total and unigram mass from the token total, evaluated
    // as ONE fixed-order double expression on exact integer counts and
    // rounded to 6 dp (t17 ln precedent). The c >= 5 floor bounds the
    // ranked set by the (small) vocabulary squared, so the global top-20
    // window is O(vocab^2) — never corpus-sized.
    Query("t52_pmi_collocations",
      s"""WITH ${wordBigramCtes()},
        |uni AS (SELECT w, count(*) AS cu
        |        FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
        |nb AS (SELECT sum(c) AS nbt FROM bc),
        |nt AS (SELECT sum(cu) AS ntt FROM uni),
        |p AS (SELECT w1, w2, c,
        |             round(ln(CAST(c AS DOUBLE) * ntt * ntt
        |                      / (CAST(nbt AS DOUBLE) * u1.cu * u2.cu)), 6) AS pmi
        |      FROM bc JOIN uni u1 ON bc.w1 = u1.w
        |              JOIN uni u2 ON bc.w2 = u2.w, nb, nt
        |      WHERE c >= 5),
        |r AS (SELECT w1, w2, c, pmi,
        |             row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rk
        |      FROM p)
        |SELECT CAST(rk AS BIGINT) AS rk, w1, w2, CAST(c AS BIGINT) AS c, pmi
        |FROM r WHERE rk <= 20""".stripMargin) {
      (s, d) => {
        val big = wordBigrams(s, d)
        // total + the PMI join share the one bigram agg
        val bc = Materialize.pin(big.groupBy("w1", "w2").agg(count(lit(1)).as("c")))
        // total + two join legs share the one unigram agg
        val uni = Materialize.pin(Tables.documents(s, d)
          .select(explode(tokens(col("text"))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("cu")))
        val nb = bc.agg(sum("c").as("nbt"))
        val nt = uni.agg(sum("cu").as("ntt"))
        bc.filter(col("c") >= 5)
          .join(broadcast(uni.toDF("u1w", "cu1")), col("w1") === col("u1w"))
          .join(broadcast(uni.toDF("u2w", "cu2")), col("w2") === col("u2w"))
          .crossJoin(broadcast(nb)).crossJoin(broadcast(nt))
          .select(col("w1"), col("w2"), col("c"),
            round(log(col("c").cast("double") * col("ntt") * col("ntt")
              / (col("nbt").cast("double") * col("cu1") * col("cu2"))), 6)
              .as("pmi"))
          .withColumn("rk",
            row_number().over(Window.orderBy(col("pmi").desc, col("w1"), col("w2"))))
          .filter(col("rk") <= 20)
          .select(col("rk").cast("long").as("rk"), col("w1"), col("w2"),
            col("c").cast("long").as("c"), col("pmi"))
      }
    }
  )

  /** t41/t46 shared oracle: the Gopher repetition battery in SQL.
    * Both gram-key forms (hashed/string) compute identical fractions —
    * gram keys never reach the output — so one oracle serves both rows. */
  private[queries] lazy val GopherOracleSql: String = {
    val legs = (2 to 8).map { n =>
      s"""SELECT doc_id, $n AS n,
         |       array_to_string(w[i:i+${n - 1}], ' ') AS g
         |FROM t, LATERAL (SELECT unnest(range(1, len(w) - ${n - 2})) AS i) ix""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |toks AS (SELECT doc_id, len(w) AS ntok FROM t),
         |grams AS (
         |$legs),
         |gc AS (SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY 1, 2, 3),
         |m AS (SELECT doc_id, n, max(c) AS topc,
         |             sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dupc
         |      FROM gc GROUP BY 1, 2)
         |SELECT k.doc_id,
         |       CAST(k.ntok AS BIGINT) AS n_tokens,
         |       round(coalesce(max(CASE WHEN n = 2 THEN topc END) * 2.0, 0) / k.ntok, 6) AS top2_frac,
         |       round(coalesce(max(CASE WHEN n = 3 THEN topc END) * 3.0, 0) / k.ntok, 6) AS top3_frac,
         |       round(coalesce(max(CASE WHEN n = 4 THEN topc END) * 4.0, 0) / k.ntok, 6) AS top4_frac,
         |       round(coalesce(max(CASE WHEN n = 5 THEN dupc END) * 5.0, 0) / k.ntok, 6) AS dup5_frac,
         |       round(coalesce(max(CASE WHEN n = 6 THEN dupc END) * 6.0, 0) / k.ntok, 6) AS dup6_frac,
         |       round(coalesce(max(CASE WHEN n = 7 THEN dupc END) * 7.0, 0) / k.ntok, 6) AS dup7_frac,
         |       round(coalesce(max(CASE WHEN n = 8 THEN dupc END) * 8.0, 0) / k.ntok, 6) AS dup8_frac
         |FROM toks k LEFT JOIN m ON m.doc_id = k.doc_id
         |GROUP BY k.doc_id, k.ntok""".stripMargin
  }

  /** t41/t46 shared engine body: the Gopher battery with hashed (8-byte
    * xxhash64, the production exchange) or string gram keys. */
  /** Zero-exchange Gopher battery: the same top-/dup-gram fractions
    * computed entirely WITHIN each row — per gram size, hash the grams,
    * array_sort, then one aggregate() pass over the sorted array
    * tracking (prev, run, max-run, dup-mass). max-run is exactly the
    * groupBy's max(count) and dup-mass exactly sum(count where >= 2),
    * so the output is identical to the exchange forms (mod the same
    * 64-bit collisions as the hashed twin) — but the plan is a pure
    * projection: no explode, no shuffle, nothing leaves the scan. The
    * per-row cost is 7 sorts of ~L-element long arrays (L = tokens),
    * embarrassingly parallel at any corpus size; this is the form a
    * 100 TB filter pass wants. The gram arrays are lambda-bound
    * (bind1) at both levels — the t25/t43 inlining lesson.
    */
  private def gopherBatteryLocal(s: org.apache.spark.sql.SparkSession,
                                 d: String): org.apache.spark.sql.DataFrame = {
    val zero = struct(lit(0L).as("p"), lit(0L).as("r"),
      lit(0L).as("m"), lit(0L).as("d"))
    def step(acc: org.apache.spark.sql.Column, x: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val r = acc.getField("r"); val m = acc.getField("m"); val dd = acc.getField("d")
      val closedM = greatest(m, r)
      val closedD = dd + when(r >= 2L, r).otherwise(0L)
      when(r === 0L,
          struct(x.as("p"), lit(1L).as("r"), lit(0L).as("m"), lit(0L).as("d")))
        .when(x === acc.getField("p"),
          struct(x.as("p"), (r + 1L).as("r"), m.as("m"), dd.as("d")))
        .otherwise(
          struct(x.as("p"), lit(1L).as("r"), closedM.as("m"), closedD.as("d")))
    }
    def finish(acc: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val r = acc.getField("r")
      struct(greatest(acc.getField("m"), r).as("topc"),
        (acc.getField("d") + when(r >= 2L, r).otherwise(0L)).as("dupc"))
    }
    def stats(wb: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column = {
      val grams = when(size(wb) >= n,
          array_sort(transform(sequence(lit(1), size(wb) - n + 1),
            i => xxhash64(array_join(slice(wb, i.cast("int"), lit(n)), " ")))))
        .otherwise(array().cast("array<bigint>"))
      bind1(grams)(g => aggregate(g, zero, step, finish))
    }
    val battery = bind1(split(col("text"), " ")) { wb =>
      struct((2 to 8).map(n => stats(wb, n).as(s"s$n")): _*)
    }
    // fanned: the whole zero-exchange battery is map-side work — on a
    // one-row-group input it would run in one task (§2.5)
    val base = graft.core.Par.fanOut(
        Tables.documents(s, d).select("doc_id", "text"), col("doc_id"))
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        battery.as("b"))
    def topFrac(n: Int) = round(
      col("b").getField(s"s$n").getField("topc") * n.toDouble / col("n_tokens"), 6)
    def dupFrac(n: Int) = round(
      col("b").getField(s"s$n").getField("dupc") * n.toDouble / col("n_tokens"), 6)
    base.select(col("doc_id") +: col("n_tokens") +: (
      Seq(2, 3, 4).map(n => when(col("n_tokens").isNotNull,
        coalesce(topFrac(n), lit(0.0))).as(s"top${n}_frac")) ++
      Seq(5, 6, 7, 8).map(n => when(col("n_tokens").isNotNull,
        coalesce(dupFrac(n), lit(0.0))).as(s"dup${n}_frac"))): _*)
  }

  private def gopherBattery(s: org.apache.spark.sql.SparkSession, d: String,
                            hashed: Boolean): org.apache.spark.sql.DataFrame = {
        // hashed: each gram keys the exchange as 8 bytes map-side — identical
        // counts (mod 64-bit collisions), SAME output schema + values,
        // ~6x less shuffle (the gram strings never cross the exchange)
        val grams = if (hashed)
          bind1(split(col("text"), " ")) { w =>
            flatten(transform(sequence(lit(2), lit(8)), n =>
              when(size(w) >= n,
                transform(sequence(lit(1), size(w) - n + 1),
                  i => struct(n.as("n"),
                    xxhash64(array_join(slice(w, i.cast("int"), n.cast("int")), " "))
                      .as("g"))))
                .otherwise(array().cast("array<struct<n:int,g:bigint>>"))))
          }
        else bind1(split(col("text"), " ")) { w =>
          flatten(transform(sequence(lit(2), lit(8)), n =>
            when(size(w) >= n,
              transform(sequence(lit(1), size(w) - n + 1),
                i => struct(n.as("n"),
                  array_join(slice(w, i.cast("int"), n.cast("int")), " ").as("g"))))
              .otherwise(array().cast("array<struct<n:int,g:string>>"))))
        }
        // fanned before the 7-size gram explode — the battery's heavy map
        // side, single-task on a one-row-group input otherwise (§2.5)
        val base = graft.core.Par.fanOut(
            Tables.documents(s, d).select("doc_id", "text"), col("doc_id"))
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("ntok"),
            grams.as("grams"))
        val gc = base.select(col("doc_id"), col("ntok"), explode(col("grams")).as("gr"))
          .groupBy(col("doc_id"), col("ntok"), col("gr.n").as("n"), col("gr.g").as("g"))
          .agg(count(lit(1)).as("c"))
        val m = gc.groupBy("doc_id", "ntok", "n").agg(
          max(col("c")).as("topc"),
          sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dupc"))
        def frac(n: Int, src: String) = round(
          coalesce(max(when(col("n") === n, col(src))) * n.toDouble, lit(0.0))
            / col("ntok"), 6)
        val out = m.groupBy("doc_id", "ntok").agg(
          frac(2, "topc").as("top2_frac"), frac(3, "topc").as("top3_frac"),
          frac(4, "topc").as("top4_frac"), frac(5, "dupc").as("dup5_frac"),
          frac(6, "dupc").as("dup6_frac"), frac(7, "dupc").as("dup7_frac"),
          frac(8, "dupc").as("dup8_frac"))
        Tables.documents(s, d)
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"))
          .join(out.withColumnRenamed("doc_id", "od"),
            col("doc_id") === col("od"), "left")
          .select(col("doc_id") +: col("n_tokens") +:
            Seq("top2_frac", "top3_frac", "top4_frac", "dup5_frac",
              "dup6_frac", "dup7_frac", "dup8_frac").map(c =>
              // null text -> null fracs (0/NULL in the oracle), not 0.0
              when(col("n_tokens").isNotNull,
                coalesce(col(c), lit(0.0))).as(c)): _*)
  }

  /** t33's piece vocabulary (lengths 2-4), chosen to split the corpus
    * vocabulary into multi-piece encodings. Shared with the oracle. */
  private[queries] lazy val PieceVocab: Seq[String] = Seq(
    "wind", "cust", "omer", "quer", "tabl", "valu", "filt", "colu",
    "dow", "tch", "ery", "ble", "umn", "eam", "oup", "ort",
    "ow", "er", "st", "re", "am", "ba", "sc", "an", "jo", "in",
    "ha", "sh", "me", "rg", "gr", "li", "ne", "va", "lu", "so",
    "rt", "pa", "cu", "mn", "da", "ta", "ro", "sl", "fa", "bi", "ke")

  private def inList(len: Int): String =
    PieceVocab.filter(_.length == len).map("'" + _ + "'").mkString(", ")

  private[queries] lazy val TokenizerOracleSql: String =
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |w0 AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS widx FROM toks),
       |w AS (SELECT doc_id, widx, t[widx] AS word FROM w0),
       |enc AS (
       |  SELECT doc_id, widx, word, 0 AS pos, CAST('' AS VARCHAR) AS acc FROM w
       |  UNION ALL
       |  SELECT doc_id, widx, word, pos + length(p),
       |         CASE WHEN acc = '' THEN p ELSE acc || '|' || p END
       |  FROM (
       |    SELECT doc_id, widx, word, pos, acc,
       |      CASE WHEN substring(word, pos + 1, 4) IN (${inList(4)})
       |             THEN substring(word, pos + 1, 4)
       |           WHEN substring(word, pos + 1, 3) IN (${inList(3)})
       |             THEN substring(word, pos + 1, 3)
       |           WHEN substring(word, pos + 1, 2) IN (${inList(2)})
       |             THEN substring(word, pos + 1, 2)
       |           ELSE substring(word, pos + 1, 1) END AS p
       |    FROM enc WHERE pos < length(word))),
       |done AS (SELECT doc_id, widx, acc FROM enc WHERE pos = length(word)),
       |agg AS (SELECT doc_id, string_agg(acc, ' ' ORDER BY widx) AS enc
       |        FROM done GROUP BY doc_id)
       |SELECT doc_id, enc,
       |       length(enc) - length(replace(enc, '|', ''))
       |         + length(enc) - length(replace(enc, ' ', '')) + 1 AS n_pieces
       |FROM agg""".stripMargin
}
