package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Materialize, Query, Tables}
import graft.operators.Anomalies

/** Sink-path queries: the partitioned-history write → partition-discovery
  * read → pruned aggregate roundtrip (SURVEY §2.1 S6/S7) INSIDE the
  * oracle gate, not just a spec. The query derives a deterministic
  * snapshot per day from orders, appends each day with the idempotent
  * dynamic-partition overwrite (one day written twice — the re-run case),
  * reads the root back through partition discovery with a pruning
  * filter, and aggregates; the oracle recomputes the same result
  * straight from the source table, so any write/read/pruning defect
  * (lost partition, double-write duplication, wrong partition values)
  * breaks the hash match.
  */
object SinkQueries {

  /** io20's oracle, shared verbatim by st21 (the live ledger's chain
    * heads must equal the batch recurrence's). */
  private[queries] val HashChainOracleSql: String =
    """WITH RECURSIVE ev AS (
      |  SELECT user_id, event_id,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events),
      |scan AS (
      |  SELECT user_id, rn, md5('g:' || CAST(event_id AS VARCHAR)) AS h
      |  FROM ev WHERE rn = 1
      |  UNION ALL
      |  SELECT e.user_id, e.rn, md5(s.h || ':' || CAST(e.event_id AS VARCHAR))
      |  FROM ev e JOIN scan s ON e.user_id = s.user_id AND e.rn = s.rn + 1)
      |SELECT s.user_id, CAST(s.rn AS BIGINT) AS n_events, s.h AS chain_md5
      |FROM scan s JOIN (SELECT user_id, max(rn) AS mr FROM scan GROUP BY 1) t
      |  ON s.user_id = t.user_id AND s.rn = t.mr""".stripMargin

  /** io14's change feed (shared by st16): orders as upserts/deletes of
    * customer balances, a 1-in-17 slice on synthetic new keys, ordered
    * by `ordk` = epoch-day * 1e8 + orderkey; `extra` columns ride along.
    * The oracle twin is `OracleSnippets.CdcMergeCtes`' `ch`. */
  private[queries] def cdcChanges(s: SparkSession, d: String, extra: Column*): DataFrame = {
    val day = datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long")
    Tables.orders(s, d).select(Seq(
      when(col("o_orderkey") % 17 === 3, col("o_custkey") + 1000000L)
        .otherwise(col("o_custkey")).as("c_custkey"),
      when(substring(md5(concat(col("o_orderkey").cast("string"), lit("cdc"))),
        1, 1) === "0", "D").otherwise("U").as("op"),
      col("o_totalprice").as("bal"),
      (day * 100000000L + col("o_orderkey")).as("ordk")) ++ extra: _*)
  }

  /** io03's SCD2 merge (shared by io04) of the batch into the open
    * customer-segment dimension, versions split on 2026-02-01. The
    * oracle twin of its inputs is `OracleSnippets.Scd2InputCtes`. */
  private[queries] def scd2Merged(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val cur = cust.filter(col("c_custkey") % 11 =!= 3)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"),
        to_date(lit("2025-06-01")).as("valid_from"),
        lit(null).cast("date").as("valid_to"))
    val inc = cust
      .filter(col("c_custkey") % 7 === 0 || col("c_custkey") % 11 === 3 ||
        col("c_custkey") % 13 === 5)
      .select(col("c_custkey"),
        when(col("c_custkey") % 7 === 0, concat(col("c_mktsegment"), lit("_X")))
          .otherwise(col("c_mktsegment")).as("seg"))
    graft.operators.Scd2.merge(cur, inc, Seq("c_custkey"), Seq("seg"),
      lit("2026-02-01"))
  }

  val queries: Seq[Query] = Seq(

    // ---- S4: CSV export/import roundtrip ------------------------------------
    // The reference's CSV export surface: write a cleaned slice as CSV
    // (header, explicit schema on the way back in — CSV carries no
    // types), re-read it, aggregate. Doubles survive because Spark
    // writes the shortest round-trip representation; the oracle
    // recomputes from the source table, so any codec defect (quoting,
    // header, type parse) breaks the hash.
    Query("io02_csv_roundtrip",
      """SELECT c_mktsegment, count(*) AS n,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal
        |FROM customer WHERE c_acctbal > 0
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val dir = graft.core.TempDirs.scratch("graft_csv_").toString
      Tables.customer(s, d).filter(col("c_acctbal") > 0)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .write.mode("overwrite").option("header", "true").csv(dir)
      s.read.option("header", "true")
        .schema("c_custkey LONG, c_mktsegment STRING, c_acctbal DOUBLE")
        .csv(dir)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast("decimal(18,4)")).cast("double").as("bal"))
    },

    // ---- io06: small-file compaction of a partitioned sink -------------------
    // A fragmented history (20 shuffle partitions per daily append → 20
    // files per date) is rewritten side-by-side to one file per
    // partition; the oracle pins CONTENT invariance (per-date counts
    // and decimal-routed sums unchanged) while the engine additionally
    // emits the achieved file count and the was-fragmented flag, both
    // pinned as literals in the oracle — a compaction that loses rows,
    // fails to reach one file, or starts un-fragmented hash-mismatches.
    Query("io06_compaction",
      """SELECT CAST(DATE '2026-01-01' + CAST(o_orderkey % 3 AS INT) AS VARCHAR) AS pd,
        |       count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |       CAST(1 AS INT) AS files_after,
        |       CAST(1 AS BOOLEAN) AS was_fragmented
        |FROM orders
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val src = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          (col("o_orderkey") % 3).as("day_off"))
      val frag = graft.core.TempDirs.scratch("graft_frag_").toString
      val day0 = java.time.LocalDate.of(2026, 1, 1)
      for (off <- 0 to 2)
        Anomalies.writeHistory(
          src.filter(col("day_off") === off).drop("day_off").repartition(20),
          frag, day0.plusDays(off))
      val compacted = graft.core.TempDirs.scratch("graft_compact_").toString
      graft.operators.Compaction.compact(s, frag, compacted, "partition_date")
      val before = graft.operators.Compaction
        .partitionFileCounts(s, frag, "partition_date").toMap
      val after = graft.operators.Compaction
        .partitionFileCounts(s, compacted, "partition_date").toMap
      import s.implicits._
      val stats = after.toSeq.map { case (pd, nAfter) =>
        (pd, nAfter, before(pd) > nAfter)
      }.toDF("pd", "files_after", "was_fragmented")
      s.read.parquet(compacted)
        .groupBy(col("partition_date").cast("string").as("pd"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("total"))
        .join(broadcast(stats), "pd")
        .select("pd", "n", "total", "files_after", "was_fragmented")
    },

    // ---- io07: JSON-lines export/import roundtrip ----------------------------
    // The interchange format of crawl-era corpora: write documents as
    // JSONL, re-read with an EXPLICIT schema (no inference job — at 100 TB
    // schema inference is a full extra scan), aggregate per language with
    // an md5-derived content digest. The oracle recomputes straight from
    // the parquet table, so any escaping/encoding/parse defect on the
    // JSON path breaks the digest hash, not just the row counts.
    Query("io07_jsonl_roundtrip",
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars,
        |       CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT) AS digest
        |FROM documents GROUP BY lang""".stripMargin) { (s, d) =>
      val dir = graft.core.TempDirs.scratch("graft_jsonl_").toString
      val docs = Tables.documents(s, d).select("doc_id", "text", "lang", "n_chars")
      docs.write.mode("overwrite").json(dir)
      s.read.schema(docs.schema).json(dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("chars"),
          sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
            .as("digest"))
    },

    // ---- IO8: schema evolution under a partitioned store --------------------
    // The long-lived-warehouse reality: a later batch adds a column.
    // Batch 1 lands (c_custkey, seg); batch 2 lands (c_custkey, seg,
    // tier). A mergeSchema read reconciles the union schema and
    // back-fills NULL tier for the pre-evolution partition — the oracle
    // replays the union-with-nulls. Schema merge is a FOOTER-level
    // operation (one footer per file at planning time); data files are
    // never rewritten — the 100 TB answer to "we added a column".
    Query("io08_schema_evolution",
      """SELECT c_custkey, c_mktsegment AS seg, CAST(NULL AS VARCHAR) AS tier,
        |       1 AS batch
        |FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT c_custkey, c_mktsegment AS seg,
        |       CASE WHEN c_custkey % 3 = 0 THEN 'gold' ELSE 'std' END AS tier,
        |       2 AS batch
        |FROM customer WHERE c_custkey % 2 = 1""".stripMargin) { (s, d) =>
      val root = graft.core.TempDirs.scratch("graft_evolve_").toString
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment").as("seg"))
      cust.filter(col("c_custkey") % 2 === 0)
        .write.mode("overwrite").parquet(s"$root/batch=1")
      cust.filter(col("c_custkey") % 2 === 1)
        .withColumn("tier",
          when(col("c_custkey") % 3 === 0, "gold").otherwise("std"))
        .write.mode("overwrite").parquet(s"$root/batch=2")
      s.read.option("mergeSchema", "true").parquet(root)
        .select(col("c_custkey"), col("seg"), col("tier"),
          col("batch").cast("int").as("batch"))
    },

    // ---- S6/S7: partitioned history write + pruned read ---------------------
    // ---- IO20: append-only ledger hash chain -------------------------------------
    // Tamper evidence for per-user event ledgers: each user's chain
    // head commits to every event id IN ORDER (Cdc.hashChain — a true
    // md5 recurrence on the secondary-sort scan, 32 chars of state per
    // key). Any insert, delete, reorder, or edit anywhere in a user's
    // history changes the head; io19 hashes a SET per partition, this
    // hashes a SEQUENCE per key. Oracle replays the chain as a
    // recursive CTE (md5 is the cross-engine hash).
    Query("io20_hash_chain", HashChainOracleSql) { (s, d) =>
      graft.operators.Cdc.hashChain(
          Tables.events(s, d).select(col("user_id"), col("event_id"), col("ts"),
            col("event_id").cast("string").as("payload")),
          "user_id", Seq("ts", "event_id"), "payload")
        .groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("n_events"),
          max_by(col("chain"), struct(col("ts"), col("event_id"))).as("chain_md5"))
    },

    // ---- IO19: partition content-hash audit ------------------------------------
    // The release-manifest check a publishing pipeline signs: write the
    // table partitioned, read it BACK, and per partition emit row count
    // + an order-insensitive-safe content hash (md5 over the key-sorted
    // row renderings). The oracle computes the same manifest from the
    // SOURCE, so any row the sink dropped, duplicated, or altered —
    // including value corruption a row count cannot see — breaks the
    // hash. Per-partition agg state is one sorted list; the sort key is
    // the primary key, so the hash is layout- and task-order-free.
    Query("io19_partition_content_audit",
      """SELECT o_orderpriority AS pri, count(*) AS n_rows,
        |       md5(string_agg(CAST(o_orderkey AS VARCHAR) || ':'
        |                      || CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |                              AS VARCHAR),
        |                      '|' ORDER BY o_orderkey)) AS content_md5
        |FROM orders GROUP BY 1""".stripMargin) { (s, d) =>
      val root = graft.core.TempDirs.scratch("graft_audit_").toString
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .write.partitionBy("o_orderpriority").mode("overwrite").parquet(root)
      s.read.parquet(root)
        .select(col("o_orderpriority").as("pri"),
          struct(col("o_orderkey"),
            concat_ws(":", col("o_orderkey"), col("cents")).as("s")).as("r"))
        .groupBy("pri")
        .agg(count(lit(1)).as("n_rows"),
          md5(concat_ws("|",
            transform(sort_array(collect_list(col("r"))), e => e.getField("s"))))
            .as("content_md5"))
    },

    // ---- io21: partition manifest diff (incremental-publish planner) --------
    // Which partitions actually need republishing between two snapshot
    // versions? Both snapshots' manifests (per-partition row count +
    // key-sorted content md5, the io19 primitive) are computed in-engine
    // and FULL-OUTER diffed: 'same' partitions skip the republish,
    // 'changed' carry both counts, 'added'/'removed' carry one side.
    // v2 simulates a real delta on top of v1: %97==0 rows deleted,
    // %89==1 rows price-bumped. Partition grain (priority x key-bucket)
    // bounds the per-partition sort buffer; the diff itself is
    // manifest-sized — at 100 TB this plans the publish without reading
    // anything twice.
    Query("io21_manifest_diff",
      s"""WITH ${OracleSnippets.publishedVersionCtes(16)},
        |m1 AS (SELECT pri, bkt, count(*) AS n1,
        |              md5(string_agg(CAST(o_orderkey AS VARCHAR) || ':'
        |                             || CAST(cents AS VARCHAR), '|'
        |                             ORDER BY o_orderkey)) AS h1
        |       FROM v1 GROUP BY 1, 2),
        |m2 AS (SELECT pri, bkt, count(*) AS n2,
        |              md5(string_agg(CAST(o_orderkey AS VARCHAR) || ':'
        |                             || CAST(cents AS VARCHAR), '|'
        |                             ORDER BY o_orderkey)) AS h2
        |       FROM v2 GROUP BY 1, 2)
        |SELECT coalesce(m1.pri, m2.pri) AS pri,
        |       CAST(coalesce(m1.bkt, m2.bkt) AS BIGINT) AS bkt,
        |       coalesce(n1, 0) AS n1, coalesce(n2, 0) AS n2,
        |       CASE WHEN m2.pri IS NULL THEN 'removed'
        |            WHEN m1.pri IS NULL THEN 'added'
        |            WHEN h1 = h2 THEN 'same' ELSE 'changed' END AS status
        |FROM m1 FULL OUTER JOIN m2 ON m1.pri = m2.pri AND m1.bkt = m2.bkt""".stripMargin) {
      (s, d) => {
        def manifest(df: org.apache.spark.sql.DataFrame, n: String, h: String) =
          df.select(col("pri"), col("bkt"),
              struct(col("o_orderkey"),
                concat_ws(":", col("o_orderkey"), col("cents")).as("s")).as("r"))
            .groupBy("pri", "bkt")
            .agg(count(lit(1)).as(n),
              md5(concat_ws("|",
                transform(sort_array(collect_list(col("r"))),
                  e => e.getField("s")))).as(h))
        // both snapshot legs derive from one scan
        val v1 = Materialize.pin(Tables.orders(s, d).filter(col("o_totalprice") > 50000)
          .select(col("o_orderkey"), col("o_orderpriority").as("pri"),
            (col("o_orderkey") % 16).as("bkt"),
            round(col("o_totalprice") * 100).cast("long").as("cents")))
        val v2 = v1.filter(col("o_orderkey") % 97 =!= 0)
          .withColumn("cents", when(col("o_orderkey") % 89 === 1,
            col("cents") + 1).otherwise(col("cents")))
        val m1 = manifest(v1, "n1", "h1")
        val m2 = manifest(v2, "n2", "h2")
          .withColumnRenamed("pri", "pri2").withColumnRenamed("bkt", "bkt2")
        m1.join(m2, col("pri") === col("pri2") && col("bkt") === col("bkt2"),
            "full_outer")
          .select(coalesce(col("pri"), col("pri2")).as("pri"),
            coalesce(col("bkt"), col("bkt2")).cast("long").as("bkt"),
            coalesce(col("n1"), lit(0L)).as("n1"),
            coalesce(col("n2"), lit(0L)).as("n2"),
            when(col("pri2").isNull, "removed")
              .when(col("pri").isNull, "added")
              .when(col("h1") === col("h2"), "same")
              .otherwise("changed").as("status"))
      }
    },

    // ---- io22: zone-map (min/max stats) skipping planner --------------------
    // The mechanism parquet row-group skipping and every lakehouse
    // file-pruning layer rest on, made auditable: a per-file min/max
    // manifest on a NON-partition column (the case io01/io11 partition
    // pruning cannot help), a BETWEEN predicate planned against it
    // (skip / full / partial per file), and a self-verifying `sound`
    // column — skip-files must contain zero matches, full-files must
    // match entirely, so a manifest bug cannot stay green. The planner
    // input is manifest-sized (one row per file); at 100 TB this
    // decides which of ~10^6 files a scan opens without reading any of
    // them — the read-side twin of io21's publish-side diff.
    Query("io22_zonemap_skipping",
      """WITH f AS (SELECT least(CAST(floor(o_totalprice / 40000.0) AS BIGINT), 15)
        |             AS file_id, o_totalprice AS v
        |           FROM orders),
        |m AS (SELECT file_id, min(v) AS mn, max(v) AS mx, count(*) AS n
        |      FROM f GROUP BY 1),
        |d AS (SELECT file_id, n, mn, mx,
        |             CASE WHEN mx < 30000.0 OR mn > 90000.0 THEN 'skip'
        |                  WHEN mn >= 30000.0 AND mx <= 90000.0 THEN 'full'
        |                  ELSE 'partial' END AS decision
        |      FROM m),
        |x AS (SELECT file_id, count(*) AS n_match FROM f
        |      WHERE v >= 30000.0 AND v <= 90000.0 GROUP BY 1)
        |SELECT CAST(d.file_id AS BIGINT) AS file_id, d.decision,
        |       CAST(d.n AS BIGINT) AS n_rows,
        |       CAST(coalesce(x.n_match, 0) AS BIGINT) AS n_match,
        |       CASE WHEN d.decision = 'skip' THEN coalesce(x.n_match, 0) = 0
        |            WHEN d.decision = 'full' THEN coalesce(x.n_match, 0) = d.n
        |            ELSE true END AS sound
        |FROM d LEFT JOIN x ON d.file_id = x.file_id""".stripMargin) { (s, d) =>
      // files simulate a price-clustered write (the layout io12 argues
      // for): value bands, so the manifest actually separates files
      val f = Tables.orders(s, d)
        .select(least(floor(col("o_totalprice") / 40000.0).cast("long"),
            lit(15L)).as("file_id"),
          col("o_totalprice").as("v"))
      val m = f.groupBy("file_id")
        .agg(min("v").as("mn"), max("v").as("mx"), count(lit(1)).as("n"))
        .withColumn("decision",
          when(col("mx") < 30000.0 || col("mn") > 90000.0, "skip")
            .when(col("mn") >= 30000.0 && col("mx") <= 90000.0, "full")
            .otherwise("partial"))
      val x = f.filter(col("v") >= 30000.0 && col("v") <= 90000.0)
        .groupBy("file_id").agg(count(lit(1)).as("n_match"))
      m.join(x, Seq("file_id"), "left")
        .select(col("file_id").cast("long").as("file_id"), col("decision"),
          col("n").cast("long").as("n_rows"),
          coalesce(col("n_match"), lit(0L)).cast("long").as("n_match"),
          when(col("decision") === "skip", coalesce(col("n_match"), lit(0L)) === 0L)
            .when(col("decision") === "full",
              coalesce(col("n_match"), lit(0L)) === col("n"))
            .otherwise(lit(true)).as("sound"))
    },

    // ---- io23: per-file Bloom index planner (point-lookup skipping) ---------
    // io22 prunes RANGE predicates off min/max stats; point lookups on a
    // high-cardinality column (which files hold customer X's orders?)
    // need the other stats structure writers emit: a per-file Bloom
    // filter. Each file's sketch is the engine's own BloomFilter (the
    // t21 literal + codegen BloomFilterMightContain probe — no UDF);
    // ALL 16 sketches build in one grouped BloomFilterAggregate pass
    // (at scale writers emit sketches at write time, and the planner
    // only ever touches sketch bytes). Self-verifying: Blooms cannot
    // false-negative, so `all_found` (every file that truly holds the
    // key is flagged) trips on any pipeline break, and `fp_ok` bounds
    // the false-positive cost (≤8 of 16 files at fpp=0.03 is ~20σ out).
    Query("io23_bloom_pointlookup",
      """WITH f AS (SELECT DISTINCT o_orderkey % 16 AS file_id, o_custkey
        |           FROM orders),
        |p AS (SELECT c_custkey AS custkey FROM customer
        |      WHERE c_custkey % 199 = 0)
        |SELECT p.custkey, CAST(count(f.file_id) AS BIGINT) AS n_actual,
        |       CAST(1 AS BOOLEAN) AS all_found,
        |       CAST(1 AS BOOLEAN) AS fp_ok
        |FROM p LEFT JOIN f ON f.o_custkey = p.custkey
        |GROUP BY 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.GraftShims
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
      val f = Tables.orders(s, d)
        .select((col("o_orderkey") % 16).as("file_id"), col("o_custkey"))
      val probes = Tables.customer(s, d)
        .filter(col("c_custkey") % 199 === 0)
        .select(col("c_custkey").as("k"))
      // ALL 16 sketches in ONE grouped pass (BloomFilterAggregate — the
      // build half of the runtime-filter pair whose probe half we use
      // below); a per-file stat.bloomFilter loop would scan orders 16x.
      // The collect is sketch-sized x 16 files (bounded driver state).
      val nBits = org.apache.spark.util.sketch.BloomFilter
        .optimalNumOfBits(1L << 16, 0.03)
      val skAgg = GraftShims.column(
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          GraftShims.expression(col("o_custkey")),
          Literal(1L << 16), Literal(nBits)).toAggregateExpression())
      val blooms = f.groupBy("file_id").agg(skAgg.as("sk")).collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1))
        .sortBy(_._1).toSeq
      val mcCols = blooms.map { case (fid, bytes) =>
        struct(lit(fid).as("file_id"),
          GraftShims.column(BloomFilterMightContain(
            Literal.create(bytes, org.apache.spark.sql.types.BinaryType),
            GraftShims.expression(col("k")))).as("mc"))
      }
      val flags = probes
        .select(col("k"), explode(array(mcCols: _*)).as("fl"))
        .select(col("k"), col("fl.file_id").as("file_id"), col("fl.mc").as("mc"))
      val act = f.join(probes, col("o_custkey") === col("k"))
        .select(col("k"), col("file_id")).distinct()
        .withColumn("actual", lit(true))
      flags.join(act, Seq("k", "file_id"), "left")
        .groupBy("k")
        .agg(sum(when(col("actual"), 1L).otherwise(0L)).as("n_actual"),
          (min(when(col("actual") && !col("mc"), 0L).otherwise(1L)) === 1L)
            .as("all_found"),
          (sum(when(col("mc") && col("actual").isNull, 1L).otherwise(0L)) <= 8L)
            .as("fp_ok"))
        .select(col("k").as("custkey"), col("n_actual"), col("all_found"),
          col("fp_ok"))
    },

    // ---- io24: snapshot retention / vacuum planner --------------------------
    // The lakehouse GC question io21's diff stops short of: across THREE
    // snapshot versions with a keep-latest-2 retention policy, which
    // immutable files (identity = partition + content hash — a changed
    // partition writes a NEW file) are still referenced, and which are
    // reclaimable orphans? v2/v3 derive from v1 by the io21 delta
    // pattern (deletes, then a price bump wave). Everything after the
    // three manifests is manifest-sized; at 100 TB this plans a vacuum
    // without touching data files — the storage-GC member of the
    // io19/io21/io22/io23 stats-and-manifests family.
    Query("io24_vacuum_planner",
      s"""WITH ${OracleSnippets.publishedVersionCtes(8)},
        |v3 AS (
        |  SELECT o_orderkey, pri, bkt,
        |         CASE WHEN o_orderkey % 83 = 2 THEN cents + 5 ELSE cents END AS cents
        |  FROM v2),
        |m1 AS (SELECT pri, bkt, count(*) AS nr,
        |              md5(string_agg(CAST(o_orderkey AS VARCHAR) || ':'
        |                             || CAST(cents AS VARCHAR), '|'
        |                             ORDER BY o_orderkey)) AS h
        |       FROM v1 GROUP BY 1, 2),
        |m2 AS (SELECT pri, bkt, count(*) AS nr,
        |              md5(string_agg(CAST(o_orderkey AS VARCHAR) || ':'
        |                             || CAST(cents AS VARCHAR), '|'
        |                             ORDER BY o_orderkey)) AS h
        |       FROM v2 GROUP BY 1, 2),
        |m3 AS (SELECT pri, bkt, count(*) AS nr,
        |              md5(string_agg(CAST(o_orderkey AS VARCHAR) || ':'
        |                             || CAST(cents AS VARCHAR), '|'
        |                             ORDER BY o_orderkey)) AS h
        |       FROM v3 GROUP BY 1, 2),
        |files AS (
        |  SELECT pri, bkt, h, max(nr) AS n_rows,
        |         min(v) AS first_seen, max(v) AS last_seen
        |  FROM (SELECT *, 1 AS v FROM m1 UNION ALL
        |        SELECT *, 2 AS v FROM m2 UNION ALL
        |        SELECT *, 3 AS v FROM m3)
        |  GROUP BY 1, 2, 3)
        |SELECT pri, CAST(bkt AS BIGINT) AS bkt, h AS content_md5,
        |       CAST(n_rows AS BIGINT) AS n_rows,
        |       CAST(first_seen AS BIGINT) AS first_seen,
        |       CAST(last_seen AS BIGINT) AS last_seen,
        |       CASE WHEN last_seen >= 2 THEN 'live' ELSE 'orphan' END AS status
        |FROM files""".stripMargin) { (s, d) =>
      def manifest(df: org.apache.spark.sql.DataFrame, v: Int) =
        df.select(col("pri"), col("bkt"),
            struct(col("o_orderkey"),
              concat_ws(":", col("o_orderkey"), col("cents")).as("s")).as("r"))
          .groupBy("pri", "bkt")
          .agg(count(lit(1)).as("nr"),
            md5(concat_ws("|",
              transform(sort_array(collect_list(col("r"))),
                e => e.getField("s")))).as("h"))
          .withColumn("v", lit(v))
      // all three snapshot legs derive from one scan
      val v1 = Materialize.pin(Tables.orders(s, d).filter(col("o_totalprice") > 50000)
        .select(col("o_orderkey"), col("o_orderpriority").as("pri"),
          (col("o_orderkey") % 8).as("bkt"),
          round(col("o_totalprice") * 100).cast("long").as("cents")))
      val v2 = v1.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("cents", when(col("o_orderkey") % 89 === 1,
          col("cents") + 1).otherwise(col("cents")))
      val v3 = v2.withColumn("cents", when(col("o_orderkey") % 83 === 2,
        col("cents") + 5).otherwise(col("cents")))
      manifest(v1, 1).unionAll(manifest(v2, 2)).unionAll(manifest(v3, 3))
        .groupBy("pri", "bkt", "h")
        .agg(max("nr").as("n_rows"), min("v").as("first_seen"),
          max("v").as("last_seen"))
        .select(col("pri"), col("bkt").cast("long").as("bkt"),
          col("h").as("content_md5"), col("n_rows").cast("long").as("n_rows"),
          col("first_seen").cast("long").as("first_seen"),
          col("last_seen").cast("long").as("last_seen"),
          when(col("last_seen") >= 2, "live").otherwise("orphan").as("status"))
    },

    // ---- io25: tombstone compaction (the s52 lifecycle's write half) --------
    // s52 serves deletes rebuild-free by anti-joining tombstones at read
    // time; tombstones accumulate, and eventually a COMPACTION folds
    // them into one partition-preserving rewrite so reads stop paying
    // the anti-join. This row runs the full lifecycle: build the
    // partitioned index store, land a tombstone set, rewrite v2 =
    // v1 ANTI tombstones (the only data pass), and emit a per-cell
    // audit — counts before/removed/after plus an order-canonical md5
    // of the surviving ids, which the oracle recomputes from the
    // literal-centroid assignment directly: a compaction that drops a
    // live row, resurrects a deleted one, or shuffles a cell boundary
    // hash-mismatches. Scale: the rewrite is one anti-join scan
    // partitioned by cell; the audit is cell-cardinality.
    {
      val nCells = 8
      val cvecs = graft.functions.Similarity.hyperplanes(1, nCells, 64)
      Query("io25_tombstone_compaction",
        s"""WITH ${OracleSnippets.ivfCentsDist(cvecs)},
          |assigned AS (SELECT vec_id, cell_id FROM (
          |  SELECT vec_id, cell_id,
          |         row_number() OVER (PARTITION BY vec_id ORDER BY d, cell_id) AS rn
          |  FROM dist) WHERE rn = 1),
          |live AS (SELECT * FROM assigned WHERE vec_id % 7 <> 3)
          |SELECT a.cell_id, CAST(count(*) AS BIGINT) AS n_before,
          |       CAST(count(*) FILTER (WHERE a.vec_id % 7 = 3) AS BIGINT)
          |         AS n_removed,
          |       CAST(count(*) FILTER (WHERE a.vec_id % 7 <> 3) AS BIGINT)
          |         AS n_after,
          |       md5(string_agg(CAST(a.vec_id AS VARCHAR), ',' ORDER BY a.vec_id)
          |           FILTER (WHERE a.vec_id % 7 <> 3)) AS ids_md5
          |FROM assigned a GROUP BY 1""".stripMargin) { (s, d) =>
        import s.implicits._
        val e = Tables.embeddings(s, d)
        val cents = cvecs.zipWithIndex.map { case (c, r) => (r.toLong, c) }
          .toDF("cell_id", "c_vec")
        val root = graft.core.TempDirs.scratch("io25_").toString
        graft.operators.Ivf.assign(e, cents, "vec_id", "embedding")
          .write.partitionBy("cell_id").parquet(s"$root/v1")
        e.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
          .write.parquet(s"$root/tombstones")
        val v1 = s.read.parquet(s"$root/v1")
          .withColumn("cell_id", col("cell_id").cast("long"))
        val tomb = s.read.parquet(s"$root/tombstones")
        // COMPACTION: one partition-preserving rewrite folding the
        // tombstones in; reads of v2 need no anti-join
        v1.join(broadcast(tomb), Seq("vec_id"), "left_anti")
          .write.partitionBy("cell_id").parquet(s"$root/v2")
        val v2 = s.read.parquet(s"$root/v2")
          .withColumn("cell_id", col("cell_id").cast("long"))
        val (before, after) = SimilaritySearch.cellMembership(v1, v2)
        // LEFT join: a cell whose members were ALL tombstoned has no v2
        // rows — it must still report (n_before, n_before, 0, NULL) like
        // the oracle's GROUP BY over `assigned` does, not vanish
        before.join(after, Seq("cell_id"), "left")
          .select(col("cell_id"), col("n_before").cast("long").as("n_before"),
            (col("n_before") - coalesce(col("n_after"), lit(0L)))
              .cast("long").as("n_removed"),
            coalesce(col("n_after"), lit(0L)).cast("long").as("n_after"),
            col("ids_md5"))
      }
    },

    Query("io01_history_roundtrip",
      """SELECT CAST(DATE '2026-01-01' + CAST(o_orderkey % 3 AS INT) AS VARCHAR) AS pd,
        |       o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_totalprice > 100000 AND o_orderkey % 3 >= 1
        |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val src = Tables.orders(s, d)
        .filter(col("o_totalprice") > 100000)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          (col("o_orderkey") % 3).as("day_off"))
      val root = graft.core.TempDirs.scratch("graft_hist_").toString
      val day0 = java.time.LocalDate.of(2026, 1, 1)
      for (off <- 0 to 2)
        Anomalies.writeHistory(
          src.filter(col("day_off") === off).drop("day_off"), root,
          day0.plusDays(off))
      // re-run of day 1: dynamic overwrite must replace, not duplicate
      Anomalies.writeHistory(
        src.filter(col("day_off") === 1).drop("day_off"), root,
        day0.plusDays(1))
      s.read.parquet(root)
        .filter(col("partition_date") >= lit(java.sql.Date.valueOf("2026-01-02")))
        .groupBy(col("partition_date").cast("string").as("pd"),
          col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("total"))
    },

    // ---- SCD2 incremental dimension merge -----------------------------------
    // The warehouse-maintenance half of the reference's batch-SET
    // resolution (j06 fixes values in place; this versions them).
    // Fixture: the open dim is every customer except the %11=3 "new"
    // set; the batch changes segments for %7=0, re-sends %13=5
    // unchanged (must be a no-op), and introduces the %11=3 keys.
    Query("io03_scd2_merge",
      s"""WITH ${OracleSnippets.Scd2InputCtes},
        |j AS (SELECT coalesce(c.k, i.k) AS k, c.seg AS cseg, i.seg AS iseg,
        |             c.vf, c.vt, c.k IS NOT NULL AS has_c, i.k IS NOT NULL AS has_i
        |      FROM cur c FULL JOIN inc i ON c.k = i.k)
        |SELECT k AS c_custkey, seg, CAST(vf2 AS VARCHAR) AS valid_from,
        |       CAST(vt2 AS VARCHAR) AS valid_to FROM (
        |  SELECT k, cseg AS seg, vf AS vf2, vt AS vt2 FROM j
        |  WHERE has_c AND (NOT has_i OR cseg = iseg)
        |  UNION ALL
        |  SELECT k, cseg, vf, DATE '2026-02-01' FROM j
        |  WHERE has_c AND has_i AND cseg <> iseg
        |  UNION ALL
        |  SELECT k, iseg, DATE '2026-02-01', NULL FROM j
        |  WHERE NOT has_c OR (has_i AND cseg <> iseg))""".stripMargin) { (s, d) =>
      scd2Merged(s, d)
        .select(col("c_custkey"), col("seg"),
          col("valid_from").cast("string").as("valid_from"),
          col("valid_to").cast("string").as("valid_to"))
    },

    // ---- SCD2 over the partitioned sink --------------------------------------
    // io01's sink path composed with io03's operator: the merged dim is
    // written partitioned by valid_from, read back through partition
    // discovery, and the batch-date slice is aggregated — the pruning
    // filter must land on the PARTITION column, so only the new-version
    // files are ever opened. The oracle recomputes that slice (new keys
    // + reopened versions) straight from the source table.
    Query("io04_scd2_partitioned",
      s"""WITH ${OracleSnippets.Scd2InputCtes},
        |j AS (SELECT c.seg AS cseg, i.seg AS iseg,
        |             c.k IS NOT NULL AS has_c, i.k IS NOT NULL AS has_i
        |      FROM cur c FULL JOIN inc i ON c.k = i.k)
        |SELECT iseg AS seg, count(*) AS n FROM j
        |WHERE NOT has_c OR (has_i AND cseg <> iseg)
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val merged = scd2Merged(s, d)
      val root = graft.core.TempDirs.scratch("graft_scd2_").toString
      merged.write.mode("overwrite").partitionBy("valid_from").parquet(root)
      s.read.parquet(root)
        .filter(col("valid_from") === lit(java.sql.Date.valueOf("2026-02-01")))
        .groupBy("seg").agg(count(lit(1)).as("n"))
    },

    // ---- Bucketed co-located join through the table sink --------------------
    // The physical-layout lever INSIDE the gate: both sides written
    // bucketBy(custkey) + sortBy, read back through the catalog, joined
    // with broadcast disabled — the sort-merge join consumes the bucket
    // layout with NO exchange on either side (ApproxBucketSpec pins the
    // plan; this row pins that the bucketed write→read→join path also
    // produces bit-correct DATA). The oracle recomputes from the raw
    // tables.
    Query("io05_bucketed_join",
      """SELECT c.c_mktsegment AS segment, count(*) AS n,
        |       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val sp = s.newSession()
      sp.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      sp.conf.set("spark.sql.sources.bucketing.enabled", "true")
      Seq("io05_orders_b", "io05_cust_b").foreach { t =>
        sp.sql(s"DROP TABLE IF EXISTS $t")
        // in-memory catalog forgets tables across JVMs but the warehouse
        // dirs survive — clear them so saveAsTable can recreate
        val wh = new java.net.URI(sp.conf.get("spark.sql.warehouse.dir")).getPath
        val dir = java.nio.file.Paths.get(wh, t)
        graft.core.TempDirs.deleteRecursively(dir)
      }
      graft.core.Tables.orders(sp, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable("io05_orders_b")
      graft.core.Tables.customer(sp, d).select("c_custkey", "c_mktsegment")
        .write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable("io05_cust_b")
      sp.table("io05_orders_b")
        .join(sp.table("io05_cust_b"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("total"))
    },

    // ---- ORC roundtrip: columnar sink beside parquet -----------------------
    // The second columnar format the engine speaks (Spark's built-in ORC
    // source). Write a partitioned ORC store, read it back through
    // partition discovery with a pruning filter + column projection, and
    // aggregate; the oracle recomputes from the parquet source, so a
    // codec/type-mapping defect (decimal widths, date encoding, partition
    // value parse) breaks the hash. Plan note: the pruning filter lands in
    // the ORC scan's PartitionFilters, and ORC predicate pushdown covers
    // the quantity filter — same scan discipline as the parquet path.
    Query("io09_orc_roundtrip",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_returnflag <> 'A' AND l_quantity < 30
        |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val root = graft.core.TempDirs.scratch("graft_orc_").toString
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity"), col("l_extendedprice"))
        .write.mode("overwrite").partitionBy("l_returnflag").orc(root)
      s.read.orc(root)
        .filter(col("l_returnflag") =!= "A" && col("l_quantity") < 30)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double").as("revenue"))
    },

    // ---- corrupt-record JSONL ingest (PERMISSIVE resilience contract) ------
    // The landed-crawl reality: some JSONL lines are truncated garbage.
    // A deterministic 1-in-13 slice of rows is written as unterminated
    // JSON; the PERMISSIVE read with columnNameOfCorruptRecord must land
    // each bad line as one null-fielded row carrying the raw text — not
    // a task failure, not a dropped row. The oracle recomputes which rows
    // WOULD be corrupt straight from the source table, so a parser that
    // drops, double-counts, or mis-attributes corrupt lines breaks the
    // hash. Per-file cost is a streaming line parse — the 100 TB shape is
    // unchanged from io07.
    Query("io10_corrupt_jsonl",
      """SELECT count(CASE WHEN c_custkey % 13 <> 5 THEN 1 END) AS n_valid,
        |       count(CASE WHEN c_custkey % 13 = 5 THEN 1 END) AS n_corrupt,
        |       CAST(sum(CASE WHEN c_custkey % 13 <> 5
        |                     THEN CAST(c_acctbal AS DECIMAL(18,4)) END)
        |            AS DOUBLE) AS bal
        |FROM customer""".stripMargin) { (s, d) =>
      val dir = graft.core.TempDirs.scratch("graft_cjson_").toString
      val c = Tables.customer(s, d)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      c.select(
          when(col("c_custkey") % 13 === 5,
            concat(lit("{\"c_custkey\":"), col("c_custkey").cast("string")))
            .otherwise(to_json(struct(col("c_custkey"), col("c_mktsegment"),
              col("c_acctbal")))).as("value"))
        .write.mode("overwrite").text(dir)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("c_custkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("c_mktsegment",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("c_acctbal",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("_corrupt",
          org.apache.spark.sql.types.StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(dir)
        .agg(count(when(col("_corrupt").isNull, 1)).as("n_valid"),
          count(col("_corrupt")).as("n_corrupt"),
          sum(when(col("_corrupt").isNull,
            col("c_acctbal").cast("decimal(18,4)"))).cast("double").as("bal"))
    },

    // ---- dynamic partition pruning (runtime scan elimination) --------------
    // The 100 TB star-join essential io01's STATIC pruning can't show:
    // the partitions to read are only known after filtering the dim, so
    // the fact scan must receive a runtime dynamicpruning subquery from
    // the broadcast side and skip 3 of 5 partitions AT EXECUTION. The
    // oracle recomputes from the source table; SourcesSpec pins the
    // dynamicpruningexpression in the fact scan's PartitionFilters so a
    // config/plan regression that silently full-scans cannot stay green.
    Query("io11_dynamic_partition_pruning",
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders WHERE substring(o_orderpriority, 1, 1) < '3'
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val root = graft.core.TempDirs.scratch("graft_dpp_").toString
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority").as("prio"))
        .write.mode("overwrite").partitionBy("prio").parquet(root)
      val fact = s.read.parquet(root)
      // dim carries the selective attribute; the filter is on the dim,
      // not the fact, so only DPP can prune the fact partitions
      val dim = Tables.orders(s, d).select(col("o_orderpriority").as("prio"))
        .distinct()
        .withColumn("flag",
          when(substring(col("prio"), 1, 1) < "3", "keep").otherwise("drop"))
      fact.join(broadcast(dim.filter(col("flag") === "keep")), Seq("prio"))
        .groupBy("prio")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("total"))
    },

    // ---- IO12: Z-order (Morton) layout key for multi-dim data skipping ----
    // At 100 TB a table filtered on EITHER customer OR date cannot be
    // partition-pruned on both from one sort order — unless the layout
    // key interleaves the bits of both dimensions (Morton order), which
    // keeps rows close in EACH dimension close in the file order, so
    // parquet row-group min/max stats prune on either predicate. This row
    // computes the 32-bit interleave of (custkey, epoch-day), buckets by
    // its top 4 bits (16 "files"), and reports per-bucket spans of both
    // raw dimensions — the locality the skipping argument rests on, and
    // a bit error anywhere in the interleave hash-mismatches. ZOrderSpec
    // pins the bijection + quadrant properties and the physical write.
    Query("io12_zorder_layout", {
      val terms = (0 until 16).flatMap { i =>
        Seq(s"((xk // ${1L << i}) % 2) * ${1L << (2 * i)}",
            s"((yk // ${1L << i}) % 2) * ${1L << (2 * i + 1)}")
      }.mkString(" + ")
      s"""WITH b AS (
         |  SELECT o_custkey % 65536 AS xk,
         |         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 65536 AS yk
         |  FROM orders),
         |z AS (SELECT xk, yk, $terms AS z FROM b)
         |SELECT CAST(z // ${1L << 28} AS BIGINT) AS bucket,
         |       CAST(count(*) AS BIGINT) AS n,
         |       CAST(min(xk) AS BIGINT) AS min_cust, CAST(max(xk) AS BIGINT) AS max_cust,
         |       CAST(min(yk) AS BIGINT) AS min_day, CAST(max(yk) AS BIGINT) AS max_day
         |FROM z GROUP BY 1""".stripMargin
    }) { (s, d) =>
      val b = Tables.orders(s, d).select(
        (col("o_custkey") % 65536).as("xk"),
        (datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long") % 65536)
          .as("yk"))
      val z = graft.operators.ZOrder.interleave16(col("xk"), col("yk"))
      b.select(col("xk"), col("yk"), shiftright(z, 28).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).cast("long").as("n"),
          min(col("xk")).cast("long").as("min_cust"),
          max(col("xk")).cast("long").as("max_cust"),
          min(col("yk")).cast("long").as("min_day"),
          max(col("yk")).cast("long").as("max_day"))
    },

    // ---- IO13: snapshot manifests (poor-man's time travel) ----------------
    // Reproducibility demands reading the table AS OF a training run,
    // while ingestion keeps appending — the lakehouse snapshot-isolation
    // contract, built here from plain parquet + a manifest listing the
    // files of each version (an append writes new files and a new
    // manifest; nothing is rewritten, so old versions stay readable
    // forever). v1 = early orders, v2 = v1 + the rest; the query reads
    // BOTH versions through their manifests and aggregates each — a
    // file leaking across versions, or a reader seeing uncommitted
    // files, breaks the hash. The manifest is file PATHS (driver-side
    // list bounded by file count, the same bound every table format's
    // planning phase has).
    Query("io13_snapshot_read",
      """WITH v1 AS (
        |  SELECT 1 AS version, count(*) AS n,
        |         sum(CAST(o_totalprice AS DECIMAL(18,4))) AS s
        |  FROM orders
        |  WHERE datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 3 = 0),
        |v2 AS (
        |  SELECT 2 AS version, count(*) AS n,
        |         sum(CAST(o_totalprice AS DECIMAL(18,4))) AS s
        |  FROM orders)
        |SELECT version, CAST(n AS BIGINT) AS n_rows, CAST(s AS DOUBLE) AS total
        |FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2) t""".stripMargin) {
      (s, d) => {
        import java.nio.file.{Files, Paths}
        import scala.jdk.CollectionConverters._
        val root = graft.core.TempDirs.scratch("graft_snap_").toString
        val day = datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
        val orders = Tables.orders(s, d)
          .select(col("o_totalprice"), (day % 3).as("m"))
        def listParquet(dir: String): Seq[String] =
          graft.core.Fs.listDir(Paths.get(dir)).map(_.toString)
            .filter(_.endsWith(".parquet")).sorted
        // commit 1: the day%3==0 slice
        orders.filter(col("m") === 0).drop("m")
          .write.mode("overwrite").parquet(s"$root/batch1")
        val manifestV1 = listParquet(s"$root/batch1")
        // commit 2: append the remainder as NEW files; v1 files untouched
        orders.filter(col("m") =!= 0).drop("m")
          .write.mode("overwrite").parquet(s"$root/batch2")
        val manifestV2 = manifestV1 ++ listParquet(s"$root/batch2")
        def readVersion(v: Int, manifest: Seq[String]) =
          s.read.parquet(manifest: _*)
            .agg(count(lit(1)).cast("long").as("n_rows"),
              sum(col("o_totalprice").cast("decimal(18,4)")).cast("double")
                .as("total"))
            .select(lit(v).as("version"), col("n_rows"), col("total"))
        readVersion(1, manifestV1).unionAll(readVersion(2, manifestV2))
      }
    },

    // ---- io14: CDC merge-apply (upserts + deletes onto a snapshot) ----------
    // The merge-with-deletes half io03's SCD2 merge doesn't cover: a
    // change feed (derived from orders — deterministic md5 coin splits
    // ops into deletes and upserts, a 1-in-17 slice remaps to synthetic
    // NEW keys so the insert path is exercised, order sequence =
    // epoch-day * 1e8 + orderkey) compacts to its latest change per key
    // via ONE max_by hash aggregate (no window sort) and full-outer
    // merges onto the customer snapshot. Latest 'D' drops the key,
    // latest 'U' replaces/inserts the balance, untouched rows pass
    // through. The oracle replays compaction with arg_max.
    Query("io14_cdc_apply",
      s"""WITH ${OracleSnippets.CdcMergeCtes}
        |SELECT k AS c_custkey,
        |       CASE WHEN op = 'U' THEN nb ELSE bb END AS bal,
        |       CASE WHEN op IS NULL THEN 'base' ELSE 'upsert' END AS cdc_src
        |FROM j WHERE op IS NULL OR op <> 'D'""".stripMargin) { (s, d) =>
      val base = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_acctbal").as("bal"))
      graft.operators.Cdc.applyChanges(base, cdcChanges(s, d),
        Seq("c_custkey"), opCol = "op", ordCol = "ordk")
    },

    // ---- io15: partitioned UPSERT sink (dynamic overwrite, touched only) ----
    // io14's merge composed with the partitioned sink: the snapshot is
    // partitioned by market segment; a feed touching TWO segments is
    // merged against a partition-PRUNED read of just those segments and
    // written back under partitionOverwriteMode=dynamic — the three
    // untouched partition directories must remain byte-identical (file
    // list + sizes compared before/after, emitted as a boolean the
    // oracle pins to TRUE). The oracle recomputes the post-merge state
    // per segment straight from the source. A merge that rewrites
    // untouched partitions, loses deletes, or misses a touched segment
    // hash-mismatches.
    Query("io15_partitioned_upsert",
      """WITH base AS (
        |  SELECT c_custkey AS k, c_acctbal AS bal, c_mktsegment AS seg
        |  FROM customer),
        |feed AS (
        |  SELECT c_custkey AS k,
        |         CASE WHEN c_custkey % 11 = 3 THEN 'D' ELSE 'U' END AS op,
        |         c_acctbal * 2 AS nb
        |  FROM customer
        |  WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
        |    AND (c_custkey % 7 = 0 OR c_custkey % 11 = 3)),
        |fin AS (
        |  SELECT b.k, CASE WHEN f.op = 'U' THEN f.nb ELSE b.bal END AS bal,
        |         b.seg
        |  FROM base b LEFT JOIN feed f ON b.k = f.k
        |  WHERE f.op IS NULL OR f.op <> 'D')
        |SELECT seg, count(*) AS n,
        |       CAST(sum(CAST(bal AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |       TRUE AS untouched_intact
        |FROM fin GROUP BY 1""".stripMargin) { (s, d) =>
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      val root = graft.core.TempDirs.scratch("io15_snap_").toString
      val cust = Tables.customer(s, d)
      cust.select(col("c_custkey"), col("c_acctbal").as("bal"),
          col("c_mktsegment").as("seg")) // scratch() pre-creates root
        .write.mode("overwrite").partitionBy("seg").parquet(root)
      def files(seg: String): Map[String, Long] =
        graft.core.Fs.listDir(Paths.get(s"$root/seg=$seg"))
          .filter(_.toString.endsWith(".parquet"))
          .map(p => p.getFileName.toString -> Files.size(p)).toMap
      val touched = Seq("BUILDING", "AUTOMOBILE")
      val untouched = Seq("FURNITURE", "MACHINERY", "HOUSEHOLD")
      val before = untouched.map(g => g -> files(g)).toMap
      val feed = cust
        .filter(col("c_mktsegment").isin(touched: _*) &&
          (col("c_custkey") % 7 === 0 || col("c_custkey") % 11 === 3))
        .select(col("c_custkey"),
          when(col("c_custkey") % 11 === 3, "D").otherwise("U").as("op"),
          (col("c_acctbal") * 2).as("bal"), col("c_mktsegment").as("seg"),
          col("c_custkey").as("ordk")) // one change per key
      // partition-pruned read of only the touched segments
      val cur = s.read.parquet(root).filter(col("seg").isin(touched: _*))
      val merged = graft.operators.Cdc.applyChanges(cur, feed,
        Seq("c_custkey"), opCol = "op", ordCol = "ordk").drop("cdc_src")
      val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try merged.write.mode("overwrite").partitionBy("seg").parquet(root)
      finally prev match {
        case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      val intact = untouched.forall(g => files(g) == before(g))
      s.read.parquet(root)
        .groupBy("seg")
        .agg(count(lit(1)).as("n"),
          sum(col("bal").cast("decimal(18,4)")).cast("double").as("total"))
        .withColumn("untouched_intact", lit(intact))
    },

    // ---- io16: manifest-tracked incremental ingest --------------------------
    // The batch landing-zone cadence the streaming rows don't cover: a
    // scheduled job lists the landing dir, anti-joins the PROCESSED
    // MANIFEST (a parquet table of file names), reads ONLY the new
    // files, and appends them to the manifest — re-runs are no-ops,
    // late files are picked up exactly once. Two runs are exercised:
    // run 1 sees two landed files, a third lands, run 2 must process
    // exactly that one (its file count comes from the real anti-join —
    // a manifest defect breaks the literal-pinned counts). Oracle
    // restates each run's slice straight from the source table.
    Query("io16_incremental_ingest",
      """SELECT 1 AS run, 2 AS files_processed, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM events WHERE event_id % 3 IN (0, 1)
        |UNION ALL
        |SELECT 2, 1, count(*),
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
        |FROM events WHERE event_id % 3 = 2""".stripMargin) { (s, d) =>
      val landing = graft.core.TempDirs.scratch("io16_landing_")
      val manifestDir = graft.core.TempDirs.scratch("io16_manifest_").toString
      val ev = Tables.events(s, d).select("event_id", "value")
      // Ingest goes by file name; the mtimes only mirror arrival order
      def landSlice(slice: Int): Unit = graft.streaming.Streams.land(landing,
        ev.filter(col("event_id") % 3 === slice), s"f$slice.parquet", (slice + 1) * 1000000L)
      val ingest = new graft.operators.Ingest(s, landing.toString, manifestDir)
      def runOnce(runId: Int): org.apache.spark.sql.DataFrame = {
        val newFiles = ingest.nextBatch() // bounded: |files| per run
        val out =
          if (newFiles.isEmpty)
            ev.limit(0).agg(count(lit(1)).as("n"),
              sum(col("value").cast("decimal(18,4)")).cast("double").as("total"))
          else s.read.parquet(ingest.paths(newFiles): _*)
            .agg(count(lit(1)).as("n"),
              sum(col("value").cast("decimal(18,4)")).cast("double").as("total"))
        ingest.commit(newFiles)
        out.select(lit(runId).as("run"),
          lit(newFiles.size).as("files_processed"), col("n"), col("total"))
      }
      landSlice(0); landSlice(1)
      val r1 = Materialize.small(runOnce(1)) // one row, held BEFORE f2 lands
      landSlice(2)
      val r2 = Materialize.small(runOnce(2))
      r1.unionAll(r2)
    },

    // ---- io18: snapshot version diff -----------------------------------------
    // The time-travel audit primitive: diff two versions of a dimension
    // (v2 simulates a release cycle — %13 keys deleted, %7 balances
    // bumped, %11 keys cloned in as new rows) and aggregate per status
    // with key digests and decimal-routed balance sums (new-side
    // balance when present, old-side for removed). One full-outer join
    // keyed on c_custkey; the oracle restates each status class
    // straight from the source construction.
    Query("io18_snapshot_diff",
      """WITH mx AS (SELECT max(c_custkey) AS mk FROM customer)
        |SELECT 'removed' AS status, count(*) AS n,
        |       CAST(sum(c_custkey) AS BIGINT) AS key_digest,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal
        |FROM customer WHERE c_custkey % 13 = 0
        |UNION ALL
        |SELECT 'changed', count(*), CAST(sum(c_custkey) AS BIGINT),
        |       CAST(sum(CAST(c_acctbal + 100 AS DECIMAL(18,4))) AS DOUBLE)
        |FROM customer WHERE c_custkey % 13 <> 0 AND c_custkey % 7 = 0
        |UNION ALL
        |SELECT 'unchanged', count(*), CAST(sum(c_custkey) AS BIGINT),
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
        |FROM customer WHERE c_custkey % 13 <> 0 AND c_custkey % 7 <> 0
        |UNION ALL
        |SELECT 'added', count(*), CAST(sum(c_custkey + mk + 1) AS BIGINT),
        |       CAST(sum(CAST(c_acctbal + 0.25 AS DECIMAL(18,4))) AS DOUBLE)
        |FROM customer, mx WHERE c_custkey % 11 = 0""".stripMargin) { (s, d) =>
      val cust = Tables.customer(s, d)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      val maxk = cust.agg(max("c_custkey")).head().getLong(0)
      val v2 = cust.filter(col("c_custkey") % 13 =!= 0)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100)
            .otherwise(col("c_acctbal")))
        .unionByName(cust.filter(col("c_custkey") % 11 === 0)
          .select((col("c_custkey") + maxk + 1).as("c_custkey"), col("c_mktsegment"),
            (col("c_acctbal") + 0.25).as("c_acctbal")))
      graft.operators.Cdc.snapshotDiff(cust, v2, Seq("c_custkey"))
        .groupBy("status")
        .agg(count(lit(1)).as("n"),
          sum("c_custkey").cast("long").as("key_digest"),
          sum(coalesce(col("_new_c_acctbal"), col("_old_c_acctbal"))
            .cast("decimal(18,4)")).cast("double").as("bal"))
    },

    // ---- io17 / S10: zip packaging sink --------------------------------------
    // The reference's download-artifact step: each group's cleaned CSV
    // folder packaged as one .zip. The gate row audits the archives by
    // RE-OPENING them: per group, entry count (pinned 1 — the
    // repartition-by-group write makes one part file per folder), data
    // rows, and the sum of the first CSV field — packaging that loses,
    // duplicates, or corrupts rows breaks the hash, not just a row
    // count. Packaging/audit are driver-side by design (last-mile
    // download artifacts, group-sized); the CSV write itself is the
    // distributed path.
    Query("io17_zip_export",
      """SELECT c_mktsegment AS group, 1 AS n_entries, count(*) AS n_rows,
        |       CAST(sum(c_custkey) AS BIGINT) AS key_digest
        |FROM customer GROUP BY 1""".stripMargin) { (s, d) =>
      val dir = graft.core.TempDirs.scratch("io17_zip_").toString
      graft.operators.ZipSink.zipPartitioned(s,
        Tables.customer(s, d).select("c_custkey", "c_acctbal", "c_mktsegment"),
        "c_mktsegment", dir).collect() // drive the packaging to completion
      graft.operators.ZipSink.auditZips(s, dir)
        .select(col("group"), col("n_entries"), col("n_rows"),
          col("key_digest"))
    }
  )
}
