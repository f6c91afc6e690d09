package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{Materialize, Query, Tables}
import graft.operators.Multimodal

/** Multimodal binary-column queries. m01/m03 run over text-as-bytes
  * payloads (ingest plumbing + frame windows); m02/m04 run REAL PNGs —
  * synthesized per doc_id from a deterministic pixel formula, encoded
  * and decoded with the JDK codec — so their oracles check actual
  * decoded pixels while DuckDB replays the formula codec-free. Value
  * contracts live in MultimodalSpec.
  */
object MultimodalQueries {

  /** Decode-once cache for the m09/m10/m11 analytics family: ONE
    * decoded-stats materialization per dataset dir per JVM
    * ([[Multimodal.decodeStats]] — histogram + channel sums + gradient
    * sums in a single decode pass). The three rows read this table, so
    * the corpus is decoded exactly once per run no matter how many
    * family rows execute — the round-12 posture table measured the cost
    * of getting this wrong (225.7 s m10 + 102.0 s m11 + m09's share at
    * 100x, each re-decoding the same 500k PNGs). Keyed by the dataset's
    * absolute path (the ScaleReplica cache lesson); synchronized because
    * the gate runs rows from four threads.
    */
  private object SharedDecode {
    // ConcurrentHashMap.compute: same-dataset callers wait for the one
    // build; a build for a DIFFERENT dataset never blocks on it (the
    // gate runs four worker threads — an object-wide lock would
    // serialize unrelated work for the full decode duration). Keyed by
    // the dataset's ABSOLUTE PATH with the fingerprint in the value, so
    // an in-place regeneration EVICTS the superseded entry and deletes
    // its scratch dir instead of accumulating one stats parquet per
    // fingerprint for the JVM's lifetime (ADVICE r14). Deletion runs
    // ONE GENERATION LATE: the gate's other worker threads may hold a
    // lazily-planned job over the just-superseded dir, so each miss
    // deletes the generation BEFORE last and marks the outgoing dir
    // doomed — in-flight readers of the last generation stay safe, and
    // the JVM-exit hook sweeps whatever the grace leaves behind.
    private val cache = new java.util.concurrent.ConcurrentHashMap[
      String, (String, String, String)]() // path -> (fp, stats dir, doomed prior scratch)
    // mtime+length of the documents table folds into the key: a dataset
    // regenerated in-place mid-JVM must rebuild, not serve stale stats
    private def fingerprint(d: String): String = {
      val f = new java.io.File(s"$d/documents.parquet")
      val parts =
        if (f.isDirectory)
          Option(f.listFiles()).toSeq.flatten
            .map(c => s"${c.getName}:${c.lastModified}:${c.length}").sorted
        else Seq(s"${f.lastModified}:${f.length}")
      parts.mkString(",")
    }
    def path(s: org.apache.spark.sql.SparkSession, d: String): String = {
      val abs = new java.io.File(d).getAbsolutePath
      val fp = fingerprint(d)
      val t = cache.compute(abs, (_, old) =>
        // stale fingerprint OR a mid-JVM-cleaned scratch dir: rebuild
        // under the new key, delete the generation-before-last, and
        // doom the outgoing dir for the NEXT miss (grace window)
        if (old != null && old._1 == fp && new java.io.File(old._2).exists())
          old
        else if (old != null) {
          if (old._3 != null)
            graft.core.TempDirs.deleteRecursively(
              java.nio.file.Path.of(old._3))
          (fp, build(s, d), new java.io.File(old._2).getParent)
        } else (fp, build(s, d), null)
      )
      t._2
    }
    private def build(s: org.apache.spark.sql.SparkSession,
                      d: String): String = {
      val dir = graft.core.TempDirs.scratch("m_decoded_stats_")
        .resolve("t").toString
      val withP = Multimodal.withImagePayload(
        Tables.documents(s, d).select("doc_id"), "doc_id")
      // The 256-bin hist array is REDUCED here, in the same codegen
      // stage as the decode, and only its three scalars are written:
      // storing the raw arrays measured +100 s of pure parquet-write
      // at 100x (500k x 2 KB) while the decode+arithmetic itself is
      // 111 s — the array never needs to outlive the build stage.
      Multimodal.reduceStats(
          Multimodal.decodeStats(withP, "doc_id", "payload",
            withHash = false))
        .write.parquet(dir)
      dir
    }
  }
  private def sharedStats(s: org.apache.spark.sql.SparkSession,
                          d: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(SharedDecode.path(s, d))

  /** m10's fixed-order double epilogue over the ten exact integer moment
    * sums (doc_id, n, sr..sgb) — shared by the shared-table default and
    * the direct-decode twin so the two paths cannot drift. Constant
    * channel => zero variance: emit NULL on BOTH engines (unguarded,
    * Spark's non-ANSI divide gives NULL while DuckDB's IEEE ops give
    * NaN — a latent cross-engine divergence). */
  private def channelCorrEpilogue(
      agg: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // decimal(38,0), not Long: n*sxx wraps a Long past ~1.2e7 px/image
    // (sx ≤ 255·n_px, so sx² alone overflows), and a silent wrap here
    // would diverge from the oracle's BIGINT, which ERRORS instead. The
    // decimal route stays exact to the decodeStats documented bound;
    // in-range values cast to the identical doubles either way.
    val dec = "decimal(38,0)"
    def corr(sxy: String, sx: String, sy: String, sxx: String, syy: String) = {
      val vx = col("n").cast(dec) * col(sxx) - col(sx).cast(dec) * col(sx)
      val vy = col("n").cast(dec) * col(syy) - col(sy).cast(dec) * col(sy)
      when(vx === 0 || vy === 0, lit(null).cast("double"))
        .otherwise(round(
          (col("n").cast(dec) * col(sxy) - col(sx).cast(dec) * col(sy))
            .cast("double") /
          (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))), 9))
    }
    agg.select(col("doc_id"),
      round(col("sr").cast("double") / col("n"), 9).as("mean_r"),
      round(col("sg").cast("double") / col("n"), 9).as("mean_g"),
      round(col("sb").cast("double") / col("n"), 9).as("mean_b"),
      corr("srg", "sr", "sg", "srr", "sgg").as("corr_rg"),
      corr("srb", "sr", "sb", "srr", "sbb").as("corr_rb"),
      corr("sgb", "sg", "sb", "sgg", "sbb").as("corr_gb"))
  }

  // The family's three oracles replay the synthesized pixel FORMULA
  // codec-free (shared by the shared-table default AND its
  // direct-decode twin, so the two engine paths answer to one contract).
  private val channelCorrOracle =
    s"""WITH ${OracleSnippets.PixelCte},
      |s AS (
      |  SELECT doc_id, count(*) AS n,
      |         CAST(sum(r) AS BIGINT) AS sr, CAST(sum(g) AS BIGINT) AS sg,
      |         CAST(sum(b) AS BIGINT) AS sb,
      |         CAST(sum(r*r) AS BIGINT) AS srr, CAST(sum(g*g) AS BIGINT) AS sgg,
      |         CAST(sum(b*b) AS BIGINT) AS sbb,
      |         CAST(sum(r*g) AS BIGINT) AS srg, CAST(sum(r*b) AS BIGINT) AS srb,
      |         CAST(sum(g*b) AS BIGINT) AS sgb
      |  FROM px GROUP BY 1)
      |SELECT doc_id,
      |       round(CAST(sr AS DOUBLE) / n, 9) AS mean_r,
      |       round(CAST(sg AS DOUBLE) / n, 9) AS mean_g,
      |       round(CAST(sb AS DOUBLE) / n, 9) AS mean_b,
      |       CASE WHEN n*srr - sr*sr = 0 OR n*sgg - sg*sg = 0 THEN NULL
      |            ELSE round((n*srg - sr*sg)
      |                       / (sqrt(CAST(n*srr - sr*sr AS DOUBLE))
      |                          * sqrt(CAST(n*sgg - sg*sg AS DOUBLE))), 9)
      |       END AS corr_rg,
      |       CASE WHEN n*srr - sr*sr = 0 OR n*sbb - sb*sb = 0 THEN NULL
      |            ELSE round((n*srb - sr*sb)
      |                       / (sqrt(CAST(n*srr - sr*sr AS DOUBLE))
      |                          * sqrt(CAST(n*sbb - sb*sb AS DOUBLE))), 9)
      |       END AS corr_rb,
      |       CASE WHEN n*sgg - sg*sg = 0 OR n*sbb - sb*sb = 0 THEN NULL
      |            ELSE round((n*sgb - sg*sb)
      |                       / (sqrt(CAST(n*sgg - sg*sg AS DOUBLE))
      |                          * sqrt(CAST(n*sbb - sb*sb AS DOUBLE))), 9)
      |       END AS corr_gb
      |FROM s""".stripMargin

  private val pixelHistogramOracle =
    s"""WITH ${OracleSnippets.PixelCte},
      |hist AS (SELECT doc_id, r, count(*) AS c FROM px GROUP BY 1, 2),
      |tot AS (SELECT doc_id, sum(c) AS n FROM hist GROUP BY 1),
      |ent AS (SELECT hist.doc_id,
      |               sum(CAST(round((0.0 - CAST(c AS DOUBLE) / n)
      |                              * ln(CAST(c AS DOUBLE) / n), 6)
      |                        AS DECIMAL(18,6))) AS ent
      |        FROM hist JOIN tot ON hist.doc_id = tot.doc_id GROUP BY 1),
      |md AS (SELECT doc_id, r AS r_mode, c AS r_mode_n FROM (
      |         SELECT doc_id, r, c,
      |                row_number() OVER (PARTITION BY doc_id
      |                                   ORDER BY c DESC, r) AS rn
      |         FROM hist) WHERE rn = 1)
      |SELECT tot.doc_id, CAST(n AS BIGINT) AS n_px,
      |       CAST(r_mode AS INT) AS r_mode, CAST(r_mode_n AS BIGINT) AS r_mode_n,
      |       CAST(ent AS DOUBLE) AS r_entropy
      |FROM tot JOIN ent ON tot.doc_id = ent.doc_id
      |         JOIN md ON tot.doc_id = md.doc_id""".stripMargin

  private val edgeDensityOracle =
    s"""WITH ${OracleSnippets.PixelCte},
      |gx AS (
      |  SELECT doc_id,
      |         abs(r - lag(r) OVER (PARTITION BY doc_id, y ORDER BY x)) AS g
      |  FROM px),
      |gy AS (
      |  SELECT doc_id,
      |         abs(r - lag(r) OVER (PARTITION BY doc_id, x ORDER BY y)) AS g
      |  FROM px),
      |ax AS (SELECT doc_id, count(g) AS n_gx, sum(g) AS sum_gx
      |       FROM gx GROUP BY 1),
      |ay AS (SELECT doc_id, count(g) AS n_gy, sum(g) AS sum_gy
      |       FROM gy GROUP BY 1)
      |SELECT ax.doc_id, CAST(n_gx AS BIGINT) AS n_gx,
      |       CAST(sum_gx AS BIGINT) AS sum_gx,
      |       CAST(n_gy AS BIGINT) AS n_gy,
      |       CAST(sum_gy AS BIGINT) AS sum_gy,
      |       round(CAST(sum_gx + sum_gy AS DOUBLE) / (n_gx + n_gy), 9)
      |         AS sharpness
      |FROM ax JOIN ay ON ax.doc_id = ay.doc_id""".stripMargin

  // lazy: initializer order — base/jpeg/twins are defined below
  lazy val queries: Seq[Query] = base ++ jpeg ++ twins

  private val base: Seq[Query] = Seq(

    // ---- M1: binary payload + hash (ingest plumbing) ----------------------
    Query("m01_binary_meta",
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |       md5(text) AS payload_md5
        |FROM documents""".stripMargin) {
      (s, d) => Multimodal.withPayload(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), octet_length(col("payload")).as("n_bytes"),
          md5(col("payload")).as("payload_md5"))
    },

    // ---- M2: REAL PNG decode + pixel-statistics features ---------------------
    // The engine synthesizes a real 32x32 PNG per doc_id (deterministic
    // pixel formula), runs it through the batched decode path (a genuine
    // javax.imageio decode), and emits integer pixel statistics carried
    // in the float feature lanes (all < 2^24, value-exact). The oracle
    // never touches a codec: it replays the pixel FORMULA per (x, y)
    // with integer arithmetic — so a codec bug, a channel swap, or a
    // row-order mistake on the engine side hash-mismatches.
    Query("m02_feature_extract",
      s"""WITH ${OracleSnippets.PixelCte}
        |SELECT doc_id, CAST(32 AS INT) AS width, CAST(32 AS INT) AS height,
        |       CAST(sum(r) AS BIGINT) AS r_sum, CAST(sum(g) AS BIGINT) AS g_sum,
        |       CAST(sum(b) AS BIGINT) AS b_sum,
        |       CAST(min(r) AS INT) AS r_min, CAST(max(r) AS INT) AS r_max
        |FROM px GROUP BY doc_id""".stripMargin) { (s, d) =>
      val withP = Multimodal.withImagePayload(
        Tables.documents(s, d).select("doc_id"), "doc_id")
      Multimodal.extractFeatures(withP, "payload")
        .select(col("doc_id"),
          element_at(col("features"), 1).cast("int").as("width"),
          element_at(col("features"), 2).cast("int").as("height"),
          element_at(col("features"), 3).cast("long").as("r_sum"),
          element_at(col("features"), 4).cast("long").as("g_sum"),
          element_at(col("features"), 5).cast("long").as("b_sum"),
          element_at(col("features"), 6).cast("int").as("r_min"),
          element_at(col("features"), 7).cast("int").as("r_max"))
    },

    // ---- M4: REAL box-filter resize with a decoded-pixel digest --------------
    // Engine: synthesize PNG -> decode -> integer box-filter 32x32 -> 8x8
    // -> re-encode PNG -> decode THAT -> hex fingerprint -> md5. The
    // digest is over pixels decoded from the re-encoded file, so the
    // oracle row pins the resample math AND the encode/decode round
    // trip. Oracle: block floor-means from the pixel formula, printf'd
    // to the same rrggbb hex, string_agg'd in (j, i) order.
    Query("m04_resize",
      s"""WITH ${OracleSnippets.PixelCte},
        |blk AS (
        |  SELECT doc_id, y//4 AS j, x//4 AS i,
        |         CAST(sum(r)//16 AS INT) AS r8, CAST(sum(g)//16 AS INT) AS g8,
        |         CAST(sum(b)//16 AS INT) AS b8
        |  FROM px GROUP BY 1, 2, 3)
        |SELECT doc_id,
        |       md5(string_agg(printf('%02x%02x%02x', r8, g8, b8), '' ORDER BY j, i))
        |         AS resized_md5,
        |       CAST(8 AS INT) AS rw, CAST(8 AS INT) AS rh
        |FROM blk GROUP BY doc_id""".stripMargin) { (s, d) =>
      val withP = Multimodal.withImagePayload(
        Tables.documents(s, d).select("doc_id"), "doc_id")
      val resized = Multimodal.resize(withP, "payload", 8, 8)
      Multimodal.pixelHex(resized, "payload_resized")
        .select(col("doc_id"), md5(col("px_hex")).as("resized_md5"),
          col("meta_resized.width").as("rw"), col("meta_resized.height").as("rh"))
    },

    // ---- M3: frame sampling (binary windows, no UDF) -------------------------
    Query("m03_frame_sample",
      """SELECT doc_id, frame_no, md5(frame) AS frame_md5 FROM (
        |  SELECT doc_id, u.frame_no,
        |         substring(text,
        |           CAST(least(u.frame_no * greatest((octet_length(encode(text)) - 32) // 3, 1) + 1,
        |                      greatest(octet_length(encode(text)) - 32 + 1, 1)) AS INT),
        |           32) AS frame
        |  FROM documents,
        |       (SELECT unnest(generate_series(0, 3)) AS frame_no) u)""".stripMargin) {
      (s, d) => Multimodal.sampleFrames(
          Multimodal.withPayload(Tables.documents(s, d), "doc_id", "text"),
          "payload", k = 4, frameBytes = 32)
        .select(col("doc_id"), col("frame_no"), md5(col("frame")).as("frame_md5"))
    },

    // ---- M5: perceptual image hash (dHash) + cluster sizes ----------------
    // The image-dedup primitive: decode the REAL PNG, box-resize to 9×8,
    // integer BT.601 luma, one bit per horizontal gradient → 16-hex-char
    // dHash, then group to content clusters. The oracle never touches a
    // codec: it replays block floor-means from the pixel formula, the
    // same luma integers, and rebuilds each row byte with shifts — so a
    // codec regression, channel swap, or resample off-by-one flips a
    // gradient bit somewhere in the corpus and hash-mismatches.
    Query("m05_perceptual_dhash",
      s"""WITH ${OracleSnippets.DhashCtes}
        |SELECT dhash, count(*) AS n_docs, min(doc_id) AS first_doc
        |FROM h GROUP BY 1""".stripMargin) { (s, d) =>
      val withP = Multimodal.withImagePayload(
        Tables.documents(s, d).select("doc_id"), "doc_id")
      Multimodal.dHash(withP, "payload")
        .groupBy("dhash")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
    },

    // ---- M7: audio decode + waveform features -----------------------------
    // The audio arm made REAL (the image arm's m02/m04 recipe): per doc
    // a genuine RIFF/WAVE file is synthesized from a closed-form PCM16
    // formula and ENCODED with javax.sound's AudioSystem writer; the
    // operator under test decodes it back through AudioSystem and emits
    // exact-integer waveform features (sum, energy, min/max, zero
    // crossings). The oracle replays the sample formula in SQL — an
    // endianness slip, header misparse, or sample drop anywhere in the
    // encode→decode chain hash-mismatches. Corrupt payloads yield null
    // rows, never task failures (spec-pinned).
    Query("m07_audio_features",
      """WITH sm AS (
        |  SELECT doc_id, i.i AS i,
        |         ((doc_id * 31 + i.i * 17) % 65536) - 32768 AS s
        |  FROM documents, LATERAL (SELECT unnest(range(400)) AS i) i),
        |z AS (SELECT doc_id, s,
        |             lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS p
        |      FROM sm)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_samples,
        |       CAST(sum(s) AS BIGINT) AS sum_amp,
        |       CAST(sum(s * s) AS BIGINT) AS sum_sq,
        |       CAST(min(s) AS BIGINT) AS min_amp,
        |       CAST(max(s) AS BIGINT) AS max_amp,
        |       CAST(sum(CASE WHEN p IS NOT NULL AND (p >= 0) <> (s >= 0)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        |FROM z GROUP BY doc_id""".stripMargin) { (s, d) =>
      val withA = Multimodal.withAudioPayload(
        Tables.documents(s, d).select("doc_id"), "doc_id", n = 400)
      Multimodal.audioFeatures(withA, "payload")
        .select("doc_id", "n_samples", "sum_amp", "sum_sq",
          "min_amp", "max_amp", "zero_crossings")
    },

    // ---- m08: energy-threshold voice-activity segments -----------------------
    // The segmentation half of audio curation: decode the WAV (same
    // real javax.sound path as m07), frame into 80-sample windows with
    // exact-integer energies, then gaps-and-islands the frames above
    // the threshold into contiguous active segments. The oracle replays
    // the PCM formula, frame split, and island grouping — a frame
    // off-by-one or a dropped sample shifts a boundary and breaks the
    // hash. All-integer; the explode is x5 rows, islands shuffle by
    // doc_id once.
    Query("m08_audio_vad_segments",
      """WITH sm AS (
        |  SELECT doc_id, i.i AS i,
        |         ((doc_id * 31 + i.i * 17) % 65536) - 32768 AS s
        |  FROM documents, LATERAL (SELECT unnest(range(400)) AS i) i),
        |fe AS (SELECT doc_id, i // 80 AS frame_idx, sum(s * s) AS energy
        |       FROM sm GROUP BY 1, 2),
        |act AS (SELECT doc_id, frame_idx, energy,
        |               frame_idx - row_number()
        |                 OVER (PARTITION BY doc_id ORDER BY frame_idx) AS grp
        |        FROM fe WHERE energy > 28600000000)
        |SELECT doc_id, CAST(min(frame_idx) AS BIGINT) AS seg_start,
        |       CAST(max(frame_idx) AS BIGINT) AS seg_end,
        |       CAST(count(*) AS BIGINT) AS n_frames,
        |       CAST(sum(energy) AS BIGINT) AS seg_energy
        |FROM act GROUP BY doc_id, grp""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val withA = Multimodal.withAudioPayload(
        Tables.documents(s, d).select("doc_id"), "doc_id", n = 400)
      val fe = Multimodal.audioFrameEnergies(withA, "payload", frameLen = 80)
        .select("doc_id", "frame_idx", "energy")
      val w = Window.partitionBy("doc_id").orderBy("frame_idx")
      fe.filter(col("energy") > 28600000000L)
        .withColumn("grp", col("frame_idx") - row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(min("frame_idx").cast("long").as("seg_start"),
          max("frame_idx").cast("long").as("seg_end"),
          count(lit(1)).as("n_frames"),
          sum("energy").cast("long").as("seg_energy"))
        .select("doc_id", "seg_start", "seg_end", "n_frames", "seg_energy")
    },

    // ---- M6: near-duplicate images via banded dHash -----------------------
    // The image arm of near-dup detection: decode real PNGs, dHash each,
    // then find pairs within Hamming distance 3 of the 64-bit hash
    // WITHOUT all-pairs — 4 x 16-bit bands, pigeonhole (3 errors cannot
    // dirty 4 bands), candidates only from shared-band buckets, exact
    // Hamming verify. Same Manku construction as s12's SimHash text
    // path, driven from binary payloads. The oracle brute-forces the
    // full pair space from the closed-form pixel formula — banding
    // completeness itself is under the hash compare.
    Query("m06_image_neardup",
      s"""WITH ${OracleSnippets.DhashCtes},
        |ham AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         bit_count(xor(CAST('0x' || substr(a.dhash, 1, 4) AS BIGINT),
        |                       CAST('0x' || substr(b.dhash, 1, 4) AS BIGINT)))
        |       + bit_count(xor(CAST('0x' || substr(a.dhash, 5, 4) AS BIGINT),
        |                       CAST('0x' || substr(b.dhash, 5, 4) AS BIGINT)))
        |       + bit_count(xor(CAST('0x' || substr(a.dhash, 9, 4) AS BIGINT),
        |                       CAST('0x' || substr(b.dhash, 9, 4) AS BIGINT)))
        |       + bit_count(xor(CAST('0x' || substr(a.dhash, 13, 4) AS BIGINT),
        |                       CAST('0x' || substr(b.dhash, 13, 4) AS BIGINT))) AS hamming
        |  FROM h a JOIN h b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
        |FROM ham WHERE hamming <= 3""".stripMargin) { (s, d) =>
      val withP = Multimodal.withImagePayload(
        Tables.documents(s, d).select("doc_id"), "doc_id")
      // decode once: three consumers below
      val h = Materialize.pin(Multimodal.dHash(withP, "payload").select("doc_id", "dhash"))
      def bandVal(c: org.apache.spark.sql.Column, i: Int) =
        conv(substring(c, i * 4 + 1, 4), 16, 10).cast("long")
      // exact-dup collapse FIRST: banding runs over DISTINCT hashes only
      // (duplicate-heavy corpora otherwise explode the band buckets —
      // at sf0.1 this is 5000 docs but only ~256 distinct images, and
      // banding the raw docs cost 10x the whole decode), then candidate
      // hash pairs expand back to doc pairs by joining the doc lists
      val distinctH = Materialize.pin(h.select("dhash").distinct())
      val banded = distinctH.select(col("dhash"),
        explode(array((0 until 4).map(i =>
          struct(lit(i).as("band"), bandVal(col("dhash"), i).as("bv"))): _*))
          .as("bb"))
        .select(col("dhash"), col("bb.band").as("band"), col("bb.bv").as("bv"))
      val hamming = (0 until 4)
        .map(i => bit_count(bandVal(col("dhash"), i)
          .bitwiseXOR(bandVal(col("dhash_b"), i))))
        .reduce(_ + _)
      val candPairs = banded
        .join(banded.toDF("dhash_b", "band_b", "bv_b"),
          col("band") === col("band_b") && col("bv") === col("bv_b") &&
            col("dhash") < col("dhash_b"))
        .select("dhash", "dhash_b").distinct() // a pair may share bands
        .select(col("dhash"), col("dhash_b"), hamming.as("hamming"))
        .filter(col("hamming") <= 3)
      // within-group pairs: identical images, hamming 0
      val within = h.join(h.toDF("doc_b", "dhash_b2"),
          col("dhash") === col("dhash_b2") && col("doc_id") < col("doc_b"))
        .select(col("doc_id").as("doc_a"), col("doc_b"),
          lit(0L).as("hamming"))
      // cross-group pairs: expand each near-dup hash pair to its docs
      val cross = candPairs
        .join(h.toDF("da", "ha"), col("ha") === col("dhash"))
        .join(h.toDF("db", "hb"), col("hb") === col("dhash_b"))
        .select(least(col("da"), col("db")).as("doc_a"),
          greatest(col("da"), col("db")).as("doc_b"),
          col("hamming").cast("long").as("hamming"))
      within.unionAll(cross)
    },

    // ---- M9: pixel histogram analytics over real decode ----------------------
    // Multimodal.decodePixels turns the opaque PNG column into a
    // relational (id, x, y, r, g, b) table — this row proves anything
    // SQL can then run on decoded media: per image, the red channel's
    // 256-bin histogram entropy (6-dp decimal terms, order-independent
    // sum), mode value and mode count (rank window, value tiebreak).
    // The oracle replays the m02 pixel FORMULA codec-free, so a decode
    // bug anywhere in the explode path hash-mismatches. The pixel
    // explode is the documented cost: aggregate immediately after.
    // ---- m10: per-image channel statistics + cross-channel correlation ------
    // The image-QA row a multimodal curation pipeline runs before
    // training: per-channel means and the three pairwise Pearson
    // correlations, computed from the REAL decoded pixel table (the
    // m09 path). Every accumulation is an exact INTEGER sum over the
    // 1024 pixels (channels are 0-255 ints), so the only doubles are
    // one fixed-order expression per output — the oracle replays the
    // synthesized pixel formulas codec-free and must match to 9 dp.
    // Correlation flags broken channels (constant channel -> explicit
    // NULL on both engines) and
    // near-duplicate channels (corr ~ 1) without a bespoke kernel.
    // Round-13 default: the epilogue off the SHARED decoded-stats table
    // (all ten moment sums already computed inside the family's single
    // decode pass) — image-count-sized, zero exchanges, pure codegen.
    // The direct decode-and-aggregate form lives on as the m13 twin.
    Query("m10_channel_corr", channelCorrOracle) {
      (s, d) => channelCorrEpilogue(sharedStats(s, d)
        .select(col("id").as("doc_id"), col("n_px").as("n"),
          col("sr"), col("sg"), col("sb"), col("srr"), col("sgg"),
          col("sbb"), col("srg"), col("srb"), col("sgb")))
    },

    // Round-13 default: mode/entropy as per-row ARRAY expressions over
    // the shared table's stored 256-bin histogram — no pixel explode, no
    // histogram re-aggregation, no window, zero exchanges. Mode tiebreak
    // (smallest value among max counts) is array_position's
    // first-occurrence semantics, matching the oracle's ORDER BY c DESC,
    // r; entropy terms are the same round-to-6dp decimals summed in the
    // array fold's fixed order (decimal addition is exact, so the fold
    // order can't move a bit vs the oracle's hash-agg sum). The direct
    // decode-and-aggregate form lives on as the m14 twin.
    Query("m09_pixel_histogram", pixelHistogramOracle) {
      (s, d) => sharedStats(s, d).select(
        col("id").as("doc_id"),
        col("n_px").cast("long").as("n_px"),
        col("r_mode"), col("r_mode_n"), col("r_entropy"))
    },

    // ---- M11: edge density / sharpness off the real decode ------------------
    // The blur/quality screen an image-curation pipeline runs before
    // training: mean absolute horizontal + vertical gradient of the red
    // plane — low values mean flat or blurred content. Gradients come
    // from the REAL javax.imageio decode (m02/m09 contract) via two lag
    // windows over the pixel table, keyed (image, row) and (image, col)
    // — both partition axes are image-bounded, so the state per task is
    // one scanline. All sums are exact integers; the oracle replays the
    // synthetic pixel formula codec-free and the same two lags, so a
    // single mis-decoded pixel hash-mismatches. localCheckpoint shares
    // ONE decode across both window passes.
    // Round-13 default: gradient sums come pre-computed from the shared
    // decoded-stats table (they were already fused into the family's
    // single decode pass — the round-12 lesson that per-scanline windows
    // cost 141 s and a collect_list fold 78 s at 10x stands; now the
    // decode itself is also paid once for the whole family). The direct
    // decode-fused form lives on as the m15 twin.
    Query("m11_edge_density", edgeDensityOracle) { (s, d) =>
      sharedStats(s, d)
        .select(col("id").as("doc_id"), col("n_gx"), col("sum_gx"),
          col("n_gy"), col("sum_gy"),
          round((col("sum_gx") + col("sum_gy")).cast("double")
            / (col("n_gx") + col("n_gy")), 9).as("sharpness"))
    },

    // ---- M12: the decoded-stats materialization itself (incremental) --------
    // The io16/io21 manifest pattern applied to the decode family: the
    // per-image stats table is keyed by (id, md5 content hash), and an
    // update decodes ONLY images whose (id, hash) is not already stored
    // — run 1 builds from a 2/3 corpus slice, run 2 presents the full
    // corpus and the left-anti manifest join decodes just the missing
    // third (the reuse leg is decode-free). A changed payload changes
    // its hash, so silent content drift re-decodes instead of serving
    // stale stats (MultimodalSpec pins that plus the no-op re-run). The
    // staleness check costs one hash projection over the corpus — no
    // codec — while every stored image skips its decode; at 100 TB the
    // decode pass amortizes to the churn rate, not the corpus size.
    Query("m12_decoded_stats",
      s"""WITH ${OracleSnippets.RedSumCtes}
        |SELECT 1 AS run,
        |       CAST(count(*) FILTER (WHERE doc_id % 3 < 2) AS BIGINT) AS n_decoded,
        |       CAST(count(*) FILTER (WHERE doc_id % 3 < 2) AS BIGINT) AS n_total,
        |       CAST(sum(sr) FILTER (WHERE doc_id % 3 < 2) AS BIGINT) AS sum_r
        |FROM s
        |UNION ALL
        |SELECT 2, CAST(count(*) FILTER (WHERE doc_id % 3 = 2) AS BIGINT),
        |       CAST(count(*) AS BIGINT), CAST(sum(sr) AS BIGINT)
        |FROM s""".stripMargin) { (s, d) =>
      val store = graft.core.TempDirs.scratch("m12_store_").toString
      val ids = Tables.documents(s, d).select("doc_id")
      // fetch-by-ids form: the manifest pass still synthesizes every
      // presented payload once (hash-only, codec-free), but the DECODE
      // leg fetches churn ids only — run 2 decodes just the new third
      // (the round-13 form re-ran the whole manifest ~3x/reconcile and
      // shuffled payload bytes through its anti-join)
      def fetchP(sub: org.apache.spark.sql.DataFrame) =
        Multimodal.withImagePayload(sub, "doc_id")
      val r1 = Multimodal.reconcileStatsBy(
        s, ids.filter(col("doc_id") % 3 < 2), "doc_id", fetchP, "payload", store)
      val r2 = Multimodal.reconcileStatsBy(
        s, ids, "doc_id", fetchP, "payload", store)
      def runRow(run: Int, r: Multimodal.ReconcileResult) =
        s.read.parquet(r.path).agg(sum("sr").as("sum_r"))
          .select(lit(run).as("run"), lit(r.decoded).as("n_decoded"),
            lit(r.total).as("n_total"), col("sum_r").cast("long").as("sum_r"))
      runRow(1, r1).unionAll(runRow(2, r2))
    }
  )

  /** m16: the JPEG arm of the mixed-codec corpus (the PNG/BMP arms ride
    * inside every other m-row via withImagePayload's id%4 codec split —
    * both lossless, so their formula oracles stayed exact). JPEG is
    * lossy, so this row gates what survives the codec: every document
    * produced a REAL decodable JPEG with the right dimensions — a
    * header bug, an encoder failure, or a dropped row breaks the
    * row-count/hash; the pixel CONTENT contract (determinism + bounded
    * mean error vs the formula) is pinned in MultimodalSpec where a
    * tolerance can be asserted.
    */
  val jpeg: Seq[Query] = Seq(
    Query("m16_jpeg_decode",
      """SELECT doc_id, CAST(32 AS INT) AS w, CAST(32 AS INT) AS h,
        |       CAST(1024 AS BIGINT) AS n_px
        |FROM documents""".stripMargin) { (s, d) =>
      val withJ = Multimodal.withJpegPayload(
        Tables.documents(s, d).select("doc_id"), "doc_id")
      Multimodal.decodeStats(withJ, "doc_id", "payload", withHash = false)
        .select(col("id").as("doc_id"), col("w"), col("h"),
          col("n_px").cast("long").as("n_px"))
    }
  )

  /** The pre-round-13 single-pass forms, kept as oracle twins of the
    * shared-table defaults (m13↔m10, m14↔m09, m15↔m11): each re-derives
    * its answer with its own decode + aggregation under the SAME oracle
    * SQL, so a bug in the shared materialization (or in the stored-sums
    * epilogue) hash-diverges from its twin's independent path.
    */
  val twins: Seq[Query] = Seq(

    Query("m13_channel_corr_direct", channelCorrOracle) {
      (s, d) => {
        val withP = Multimodal.withImagePayload(
          Tables.documents(s, d).select("doc_id"), "doc_id")
        val px = Multimodal.decodePixels(withP, "doc_id", "payload")
          .select(col("id").as("doc_id"),
            col("r").cast("long").as("r"), col("g").cast("long").as("g"),
            col("b").cast("long").as("b"))
        channelCorrEpilogue(px.groupBy("doc_id").agg(count(lit(1)).as("n"),
          sum("r").as("sr"), sum("g").as("sg"), sum("b").as("sb"),
          sum(col("r") * col("r")).as("srr"), sum(col("g") * col("g")).as("sgg"),
          sum(col("b") * col("b")).as("sbb"),
          sum(col("r") * col("g")).as("srg"), sum(col("r") * col("b")).as("srb"),
          sum(col("g") * col("b")).as("sgb")))
      }
    },

    Query("m14_pixel_histogram_direct", pixelHistogramOracle) {
      (s, d) => {
        val withP = Multimodal.withImagePayload(
          Tables.documents(s, d).select("doc_id"), "doc_id")
        // totals, entropy, and mode share the decode
        val hist = Materialize.pin(Multimodal.decodePixels(withP, "doc_id", "payload")
          .groupBy(col("id").as("doc_id"), col("r"))
          .agg(count(lit(1)).as("c")))
        val tot = hist.groupBy("doc_id").agg(sum("c").as("n"))
        val p = col("c").cast("double") / col("n")
        // entropy + mode in ONE aggregate over the joined hist: the mode
        // rule (highest c, tie -> smallest r) is exactly
        // max(struct(c, 255 - r)) — this replaces the former per-doc
        // row_number window (a full extra sort pass that AQE coalesced
        // to one partition at bench scale) and one join (§2.4)
        val em = hist.join(tot, "doc_id").groupBy("doc_id", "n")
          .agg(sum(round((lit(0.0) - p) * log(p), 6).cast("decimal(18,6)"))
            .as("ent"),
            max(struct(col("c").as("c"), (lit(255) - col("r")).as("nr")))
              .as("m"))
        em.select(col("doc_id"), col("n").cast("long").as("n_px"),
          (lit(255) - col("m.nr")).cast("int").as("r_mode"),
          col("m.c").cast("long").as("r_mode_n"),
          col("ent").cast("double").as("r_entropy"))
      }
    },

    Query("m15_edge_density_direct", edgeDensityOracle) { (s, d) =>
      val withP = Multimodal.withImagePayload(
        Tables.documents(s, d).select("doc_id"), "doc_id")
      Multimodal.decodeGradients(withP, "doc_id", "payload")
        .select(col("id").as("doc_id"), col("n_gx"), col("sum_gx"),
          col("n_gy"), col("sum_gy"),
          round((col("sum_gx") + col("sum_gy")).cast("double")
            / (col("n_gx") + col("n_gy")), 9).as("sharpness"))
    }
  )
}
