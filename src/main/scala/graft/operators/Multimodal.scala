package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Materialize

/** Multimodal column plumbing for a training-data pipeline: media as
  * opaque BINARY columns with a typed metadata struct, batched
  * feature-extraction / resize / frame-sampling over `mapPartitions`.
  *
  * The image path is REAL: PNG encode/decode via the JDK's pure-Java
  * `javax.imageio` codec (headless-safe) and an integer box-filter
  * resample. Test payloads are synthesized deterministically from the
  * row id ([[synthPixels]]) so a SQL oracle can recompute every decoded
  * pixel without a codec — the engine round-trips real PNG bytes while
  * DuckDB replays the closed-form pixel formula (m02/m04). Non-image
  * payloads (audio et al.) keep the deterministic byte-histogram
  * fallback; a production audio codec changes only that branch of
  * [[decodeBytes]].
  *
  * Scale notes: payloads never hit the driver; extraction is a narrow
  * mapPartitions (no shuffle) processing rows in bounded batches, the
  * same shape an Arrow-batched UDF has — executor memory is bounded by
  * batchSize × payload size regardless of partition size.
  */
object Multimodal {

  val FeatureDim = 8

  // ---- real PNG kernels (JDK javax.imageio — no external deps) ----------

  // ImageIO defaults to a disk-backed stream cache per encode/decode —
  // pure overhead for in-memory byte arrays, and a temp-file write per
  // image in the hot path. Off once, process-wide.
  javax.imageio.ImageIO.setUseCache(false)

  private[graft] def isPng(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length > 8 &&
      (bytes(0) & 0xFF) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G'

  private[graft] def isJpeg(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length > 3 &&
      (bytes(0) & 0xFF) == 0xFF && (bytes(1) & 0xFF) == 0xD8 &&
      (bytes(2) & 0xFF) == 0xFF

  // BMP's 2-byte magic is weak (text can start with "BM"); require the
  // header's reserved zero bytes too so a text payload never routes to
  // the image decoder
  private[graft] def isBmp(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length > 54 &&
      bytes(0) == 'B' && bytes(1) == 'M' &&
      bytes(6) == 0 && bytes(7) == 0 && bytes(8) == 0 && bytes(9) == 0

  private[graft] def isImage(bytes: Array[Byte]): Boolean =
    isPng(bytes) || isBmp(bytes) || isJpeg(bytes)

  /** Deterministic RGB test pixels for an id — this formula IS the
    * oracle contract: m02/m04's DuckDB side recomputes it per (x, y)
    * with plain integer arithmetic, so the engine's real
    * encode→decode→measure loop is checked value-exactly. Row-major,
    * packed 0xRRGGBB. */
  private[graft] def synthPixels(id: Long, w: Int, h: Int): Array[Int] = {
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((id * 7 + 3L * x + 5L * y) % 256).toInt
        val g = ((id * 11 + x + 2L * y) % 256).toInt
        val b = ((id * 13 + 4L * x + y) % 256).toInt
        px(y * w + x) = (r << 16) | (g << 8) | b
        x += 1
      }
      y += 1
    }
    px
  }

  /** Encode pixels with a named ImageIO writer. `png` and `bmp`
    * (BI_RGB 24-bit) are LOSSLESS — decode(encode(px)) == px exactly,
    * which the formula oracles rely on; `jpg` is lossy and only the
    * m16 row + MultimodalSpec's bounded-error pins use it. */
  private[graft] def encodeImage(px: Array[Int], w: Int, h: Int,
                                 fmt: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, w, h, px, 0, w)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  private[graft] def encodePng(px: Array[Int], w: Int, h: Int): Array[Byte] =
    encodeImage(px, w, h, "png")

  /** (width, height, row-major 0xRRGGBB pixels). PNG is lossless, so
    * decode(encode(px)) == px exactly. */
  private[graft] def decodePng(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val (w, h) = (img.getWidth, img.getHeight)
    (w, h, img.getRGB(0, 0, w, h, null, 0, w).map(_ & 0xFFFFFF))
  }

  /** Null-safe decode for corpus data: a corrupt payload (bad magic,
    * truncated stream, malformed chunks) yields None instead of killing
    * the task — at corpus scale SOME rows are always broken, and one
    * bad image must cost one null row, not the job. ImageIO signals
    * corruption both ways (null return AND IIOException), so both are
    * caught. Routes by magic (PNG / BMP / JPEG — the mixed-codec corpus)
    * and lets ImageIO's reader auto-detection pick the codec.
    */
  private[graft] def decodeImageSafe(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    if (!isImage(bytes)) None
    else
      try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null) None
        else {
          val (w, h) = (img.getWidth, img.getHeight)
          Some((w, h, img.getRGB(0, 0, w, h, null, 0, w).map(_ & 0xFFFFFF)))
        }
      } catch { case _: java.io.IOException | _: RuntimeException => None }

  private[graft] def decodePngSafe(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    decodeImageSafe(bytes)

  /** Integer box-filter resample: output pixel (i, j) is the
    * floor-mean over source block [i·sw/tw, (i+1)·sw/tw) ×
    * [j·sh/th, (j+1)·sh/th) per channel — exact integer math end to
    * end, so a SQL twin reproduces it with sum()//count. */
  private[graft] def boxResize(px: Array[Int], sw: Int, sh: Int,
                               tw: Int, th: Int): Array[Int] = {
    val out = new Array[Int](tw * th)
    var j = 0
    while (j < th) {
      // upscale guard: a target larger than the source yields empty
      // blocks (x1 == x0) — widen to one source pixel, which makes the
      // floor-mean collapse to nearest-neighbor sampling
      val y0r = j * sh / th; val y1r = (j + 1) * sh / th
      val y0 = math.min(y0r, sh - 1); val y1 = math.max(y1r, y0 + 1)
      var i = 0
      while (i < tw) {
        val x0r = i * sw / tw; val x1r = (i + 1) * sw / tw
        val x0 = math.min(x0r, sw - 1); val x1 = math.max(x1r, x0 + 1)
        var rs = 0L; var gs = 0L; var bs = 0L; var n = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val p = px(y * sw + x)
            rs += (p >> 16) & 0xFF; gs += (p >> 8) & 0xFF; bs += p & 0xFF
            n += 1
            x += 1
          }
          y += 1
        }
        out(j * tw + i) =
          ((rs / n).toInt << 16) | ((gs / n).toInt << 8) | (bs / n).toInt
        i += 1
      }
      j += 1
    }
    out
  }

  val metaType: StructType = StructType(Seq(
    StructField("media_type", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType)))

  /** Attach a synthetic binary payload + typed metadata to a text table:
    * payload = utf-8 bytes of the text, metadata derived deterministically
    * from the id. Stands in for a real (path, bytes, exif) ingest.
    */
  def withPayload(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("payload", col(textCol).cast("binary"))
      .withColumn("meta", struct(
        when(pmod(col(idCol), lit(2)) === 0, "image/fake").otherwise("audio/fake").as("media_type"),
        (lit(16) + pmod(xxhash64(col(idCol)), lit(64))).cast("int").as("width"),
        (lit(16) + pmod(xxhash64(col(idCol), lit(1)), lit(64))).cast("int").as("height")))

  /** Attach a REAL synthesized image payload: 32×32 (by default) RGB
    * pixels from [[synthPixels]] encoded with a JDK ImageIO writer, plus
    * typed metadata. The corpus is MIXED-CODEC: ids with id % 4 == 3
    * carry BMP (BI_RGB 24-bit), the rest PNG — two genuinely different
    * reader paths through ImageIO, BOTH lossless, so every formula
    * oracle still checks decoded pixels value-exactly. (JPEG is lossy —
    * it lives in its own row, [[withJpegPayload]]/m16, under bounded-
    * error pins instead of exact-formula oracles.)
    */
  def withImagePayload(df: DataFrame, idCol: String,
                       w: Int = 32, h: Int = 32): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("payload", BinaryType), StructField("meta", metaType)))
    implicit val enc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    // fan the NARROW id rows before synthesizing payloads: encode +
    // every downstream decode then parallelize, and the exchange moves
    // ids, never payload bytes (guide §2.5/§8; identity once the
    // source scan already fans)
    val fanned = graft.core.Par.fanOut(df, col(idCol))
    val idx = fanned.schema.fieldIndex(idCol)
    fanned.mapPartitions { it =>
      it.map { row =>
        val id = row.get(idx).asInstanceOf[Number].longValue
        val fmt = if (id % 4 == 3) "bmp" else "png"
        val bytes = encodeImage(synthPixels(id, w, h), w, h, fmt)
        Row.fromSeq(row.toSeq ++ Seq(bytes, Row(s"image/$fmt", w, h)))
      }
    }
  }

  /** The lossy arm of the mixed-codec corpus: a genuine JPEG per id
    * (ImageIO's JPEG writer, default quality). decode(encode(px)) is NOT
    * px — DCT quantization, chroma subsampling, YCbCr rounding — so m16
    * gates only codec-invariant facts (dimensions, row survival) and
    * MultimodalSpec pins determinism + a measured per-channel error
    * bound on the image MEANS.
    */
  def withJpegPayload(df: DataFrame, idCol: String,
                      w: Int = 32, h: Int = 32): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("payload", BinaryType), StructField("meta", metaType)))
    implicit val enc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    // same narrow-id fan-out as withImagePayload (§2.5)
    val fanned = graft.core.Par.fanOut(df, col(idCol))
    val idx = fanned.schema.fieldIndex(idCol)
    fanned.mapPartitions { it =>
      it.map { row =>
        val id = row.get(idx).asInstanceOf[Number].longValue
        val bytes = encodeImage(synthPixels(id, w, h), w, h, "jpg")
        Row.fromSeq(row.toSeq ++ Seq(bytes, Row("image/jpeg", w, h)))
      }
    }
  }

  /** Decode: PNG payloads get REAL pixel statistics from the decoded
    * image — [width, height, rSum, gSum, bSum, rMin, rMax, nPixels],
    * all integers ≤ 2^24 so the float32 lane is value-exact and a SQL
    * oracle can match it. Non-image payloads keep the normalized
    * 8-bucket byte histogram (deterministic stand-in for an audio
    * codec — swapping a real one changes only that branch).
    */
  private[graft] def decodeBytes(bytes: Array[Byte]): Array[Float] = {
    if (isImage(bytes)) {
      // corrupt image -> null features (identifiable downstream), never
      // a fake histogram and never a task failure
      return decodeImageSafe(bytes).map { case (w, h, px) =>
        var rs = 0L; var gs = 0L; var bs = 0L; var rmin = 255; var rmax = 0
        var i = 0
        while (i < px.length) {
          val r = (px(i) >> 16) & 0xFF
          rs += r; gs += (px(i) >> 8) & 0xFF; bs += px(i) & 0xFF
          if (r < rmin) rmin = r
          if (r > rmax) rmax = r
          i += 1
        }
        Array(w.toFloat, h.toFloat, rs.toFloat, gs.toFloat, bs.toFloat,
          rmin.toFloat, rmax.toFloat, px.length.toFloat)
      }.orNull
    }
    val h = new Array[Float](FeatureDim)
    if (bytes != null && bytes.nonEmpty) {
      var i = 0
      while (i < bytes.length) { h((bytes(i) & 0xFF) >> 5) += 1f; i += 1 }
      var b = 0
      while (b < FeatureDim) { h(b) /= bytes.length; b += 1 }
    }
    h
  }

  /** Batched feature extraction: adds `features array<float>`. Rows are
    * processed in batches of `batchSize` (the Arrow-batch shape); null
    * payloads yield null features.
    */
  def extractFeatures(df: DataFrame, payloadCol: String,
                      batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("features", ArrayType(FloatType), nullable = true))
    implicit val enc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // batch boundary = where a real implementation would build one
        // Arrow RecordBatch / model-inference batch
        batch.iterator.map { row =>
          val bytes = row.get(idx).asInstanceOf[Array[Byte]]
          val feats =
            if (bytes == null) null
            else Option(decodeBytes(bytes)).map(_.toSeq).orNull
          Row.fromSeq(row.toSeq :+ feats)
        }
      }
    }
  }

  /** REAL decode to a relational pixel table: one row per (id, x, y)
    * with the RGB channels as plain INT columns — the bridge from the
    * opaque binary column to anything SQL can do (histograms, entropy,
    * channel correlation, region stats) without a bespoke kernel per
    * analysis. Corrupt payloads contribute zero rows (decodePngSafe).
    * mapPartitions, no shuffle; output is |pixels| rows, so callers
    * aggregate immediately — the explode is the documented cost.
    */
  def decodePixels(df: DataFrame, idCol: String,
                   payloadCol: String): DataFrame = {
    // Validate at ANALYSIS time, not task runtime: a non-binary payload
    // fails here with a readable message instead of a mid-job
    // ClassCastException; any integral id widens via the explicit cast.
    require(df.schema(payloadCol).dataType == BinaryType,
      s"decodePixels: '$payloadCol' must be BINARY, got " +
        df.schema(payloadCol).dataType.simpleString)
    require(df.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"decodePixels: '$idCol' must be numeric, got " +
        df.schema(idCol).dataType.simpleString)
    val in = df.select(col(idCol).cast("long").as("id"),
      col(payloadCol).as("payload"))
    val outSchema = StructType(Seq(
      StructField("id", LongType), StructField("x", IntegerType),
      StructField("y", IntegerType), StructField("r", IntegerType),
      StructField("g", IntegerType), StructField("b", IntegerType)))
    implicit val enc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    in.mapPartitions { it =>
      it.flatMap { row =>
        val id = row.getLong(0)
        val bytes = row.getAs[Array[Byte]](1)
        decodePngSafe(bytes).iterator.flatMap { case (w, h, px) =>
          Iterator.range(0, h).flatMap { y =>
            Iterator.range(0, w).map { x =>
              val p = px(y * w + x)
              Row(id, x, y, (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF)
            }
          }
        }
      }
    }
  }

  /** Per-image red-plane gradient sums off the REAL decode — the m11
    * feature extractor. Gradients are IMAGE-LOCAL, so they belong inside
    * the decode pass: one row in, one narrow row out, nothing pixel-sized
    * ever leaves the task (the decodePixels → window/agg formulations
    * measured 28x/16x at 10x volume; this is the flat-cost shape).
    * Output: (id, n_gx, sum_gx, n_gy, sum_gy) — exact integers; corrupt
    * or non-PNG payloads drop (the decodePixels contract).
    */
  def decodeGradients(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    require(df.schema(payloadCol).dataType == BinaryType,
      s"decodeGradients: '$payloadCol' must be BINARY, got " +
        df.schema(payloadCol).dataType.simpleString)
    require(df.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"decodeGradients: '$idCol' must be numeric, got " +
        df.schema(idCol).dataType.simpleString)
    val in = df.select(col(idCol).cast("long").as("id"),
      col(payloadCol).as("payload"))
    val outSchema = StructType(Seq(
      StructField("id", LongType), StructField("n_gx", LongType),
      StructField("sum_gx", LongType), StructField("n_gy", LongType),
      StructField("sum_gy", LongType)))
    implicit val enc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    in.mapPartitions { it =>
      it.flatMap { row =>
        val id = row.getLong(0)
        val bytes = row.getAs[Array[Byte]](1)
        decodePngSafe(bytes).iterator.map { case (w, h, px) =>
          def red(x: Int, y: Int): Int = (px(y * w + x) >> 16) & 0xFF
          var sgx = 0L; var sgy = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              if (x + 1 < w) sgx += math.abs(red(x + 1, y) - red(x, y))
              if (y + 1 < h) sgy += math.abs(red(x, y + 1) - red(x, y))
              x += 1
            }
            y += 1
          }
          Row(id, (w - 1).toLong * h, sgx, w.toLong * (h - 1), sgy)
        }
      }
    }
  }

  /** ONE decode pass per image emitting EVERYTHING the m09/m10/m11
    * family needs — red 256-bin histogram, all ten channel-moment sums,
    * and the two gradient sums — plus an md5 content hash for
    * incremental-manifest identity. The decode is the dominant cost of
    * the whole multimodal family (the 100x posture read 225 s for m10 +
    * 102 s for m11 + m09's share, each re-decoding the same corpus), so
    * the three analytics rows read THIS table instead of re-decoding:
    * the corpus is decoded once per run, and everything downstream is
    * image-count-sized. All accumulation is exact integer (channels are
    * 0-255 ints; sums fit Long to ~2^38 pixels/image), nothing
    * pixel-sized leaves the task. Corrupt/non-PNG payloads drop (the
    * decodePixels contract).
    *
    * Output: (id, content_hash, w, h, n_px, hist array<long>[256],
    * r_mode, r_mode_n, r_entropy, sr, sg, sb, srr, sgg, sbb, srg, srb,
    * sgb, n_gx, sum_gx, n_gy, sum_gy).
    *
    * `withHash = false` skips the md5 content hash (emits "") — for the
    * EPHEMERAL per-run shared build, which needs no incremental
    * identity; the persistent reconcileStats store always hashes.
    */
  def decodeStats(df: DataFrame, idCol: String, payloadCol: String,
                  withHash: Boolean = true,
                  emitFailures: Boolean = false): DataFrame = {
    require(df.schema(payloadCol).dataType == BinaryType,
      s"decodeStats: '$payloadCol' must be BINARY, got " +
        df.schema(payloadCol).dataType.simpleString)
    require(df.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"decodeStats: '$idCol' must be numeric, got " +
        df.schema(idCol).dataType.simpleString)
    val in = df.select(col(idCol).cast("long").as("id"),
      col(payloadCol).as("payload"))
    val outSchema = StructType(Seq(
      StructField("id", LongType), StructField("content_hash", StringType),
      StructField("w", IntegerType), StructField("h", IntegerType),
      StructField("n_px", LongType),
      StructField("hist", ArrayType(LongType, containsNull = false)),
      StructField("r_mode", IntegerType), StructField("r_mode_n", LongType),
      StructField("r_entropy", DoubleType),
      StructField("sr", LongType), StructField("sg", LongType),
      StructField("sb", LongType), StructField("srr", LongType),
      StructField("sgg", LongType), StructField("sbb", LongType),
      StructField("srg", LongType), StructField("srb", LongType),
      StructField("sgb", LongType),
      StructField("n_gx", LongType), StructField("sum_gx", LongType),
      StructField("n_gy", LongType), StructField("sum_gy", LongType)))
    implicit val enc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    in.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      // entropy terms depend only on (count, n_px): memoize per distinct
      // n_px — for a fixed-size corpus that is ~n_px BigDecimal
      // constructions per PARTITION instead of ~250 per image (the
      // naive fold's Double.toString traffic measured ~50 s at 100x)
      val termCache = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.HashMap[Long, java.math.BigDecimal]]
      def rawTerm(c: Long, n: Long): java.math.BigDecimal = {
        val p = c / n.toDouble
        val raw = (0.0 - p) * math.log(p)
        val r6 = java.math.BigDecimal.valueOf(raw)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        java.math.BigDecimal.valueOf(r6)
          .setScale(6, java.math.RoundingMode.HALF_UP)
      }
      def entropyTerm(c: Long, n: Long): java.math.BigDecimal = {
        // bound the memo BOTH ways: at most 8 distinct image sizes per
        // partition, and per size a HashMap grown only by observed
        // counts (≤ 256 distinct counts per histogram) capped at 2^14
        // entries — a multi-megapixel corpus must not pin a
        // count-indexed array sized by n_px (~33 MB of references per
        // size). Past either cap, extra terms compute uncached
        // (correct, just slower for that minority).
        if (!termCache.contains(n) && termCache.size >= 8) rawTerm(c, n)
        else {
          val m = termCache.getOrElseUpdate(n,
            scala.collection.mutable.HashMap.empty[Long, java.math.BigDecimal])
          m.get(c) match {
            case Some(t) => t
            case None =>
              val t = rawTerm(c, n)
              if (m.size < (1 << 14)) m.update(c, t)
              t
          }
        }
      }
      it.flatMap { row =>
        val id = row.getLong(0)
        val bytes = row.getAs[Array[Byte]](1)
        // hash BEFORE the decode attempt: failure rows need the content
        // hash too (a known-bad payload is skipped by (id, hash) until
        // its content changes — reconcileStats's failed_v store)
        // a NULL payload hashes as md5 of the empty byte string, never
        // as a null key: null keys match no (id, hash) anti-join, so a
        // null payload would re-attempt its decode and append a fresh
        // (id, null) failure row on EVERY reconcile (ADVICE r14). The
        // manifest's md5(coalesce(payload, X'')) agrees byte-for-byte.
        val hash =
          if (withHash) {
            md.reset()
            md.digest(if (bytes == null) Array.emptyByteArray else bytes)
              .map("%02x".format(_)).mkString
          } else ""
        val decoded = decodePngSafe(bytes)
        if (decoded.isEmpty && emitFailures)
          Iterator.single(Row(id, hash, null, null, null, null, null, null,
            null, null, null, null, null, null, null, null, null, null,
            null, null, null, null))
        else decoded.iterator.map { case (w, h, px) =>
          val hist = new Array[Long](256)
          var sr = 0L; var sg = 0L; var sb = 0L
          var srr = 0L; var sgg = 0L; var sbb = 0L
          var srg = 0L; var srb = 0L; var sgb = 0L
          var sgx = 0L; var sgy = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val p = px(y * w + x)
              val r = (p >> 16) & 0xFF; val g = (p >> 8) & 0xFF; val b = p & 0xFF
              hist(r) += 1L
              sr += r; sg += g; sb += b
              srr += r.toLong * r; sgg += g.toLong * g; sbb += b.toLong * b
              srg += r.toLong * g; srb += r.toLong * b; sgb += g.toLong * b
              if (x + 1 < w) sgx += math.abs(((px(y * w + x + 1) >> 16) & 0xFF) - r)
              if (y + 1 < h) sgy += math.abs((((px((y + 1) * w + x)) >> 16) & 0xFF) - r)
              x += 1
            }
            y += 1
          }
          // mode + entropy fold here, in the kernel: the Catalyst
          // decimal aggregate over the 256-bin array measured ~75 s of
          // interpreted BigDecimal work at 100x. The arithmetic
          // replicates Spark's round(double, 6) → cast(decimal(18,6))
          // pipeline EXACTLY (BigDecimal.valueOf = Double.toString
          // shortest round-trip, HALF_UP both steps; ln is the same
          // JVM Math.log Spark's codegen calls), so the value is
          // bit-identical to the expression form the oracle matched.
          // Decimal addition is exact — bin order can't move a bit.
          var mode = 0; var modeN = 0L
          var ent = java.math.BigDecimal.ZERO
          var bi = 0
          while (bi < 256) {
            val c = hist(bi)
            if (c > modeN) { modeN = c; mode = bi }
            if (c > 0L) ent = ent.add(entropyTerm(c, w.toLong * h))
            bi += 1
          }
          Row(id, hash, w, h, w.toLong * h, hist.toSeq,
            mode, modeN, ent.doubleValue(),
            sr, sg, sb, srr, sgg, sbb, srg, srb, sgb,
            (w - 1).toLong * h, sgx, w.toLong * (h - 1), sgy)
        }
      }
    }
  }

  /** The stored projection of [[decodeStats]]: everything except the
    * raw 256-bin histogram array, whose scalars (mode, mode count,
    * entropy) the kernel already folded during the decode. Persisting
    * the raw arrays measured +100 s of pure parquet-write at 100x
    * (500k × 2 KB) against 111 s for the decode itself — the array
    * exists only in flight. Any new histogram-derived stat gets added
    * in the decode kernel, not downstream of the store.
    */
  def reduceStats(stats: DataFrame): DataFrame = stats.drop("hist")

  /** Result of one [[reconcileStatsBy]] run: images decoded this run,
    * rows in the current stats version, payloads that FAILED to decode
    * this run (recorded in the store's `failed_v{n}` side table so a
    * known-bad payload is skipped until its content changes — without
    * it every reconcile re-attempts undecodable payloads forever and
    * the "decode cost amortizes to churn rate" claim silently breaks),
    * and the path of the current stats version.
    */
  final case class ReconcileResult(decoded: Long, total: Long,
                                   failed: Long, path: String)

  // anchored: a leftover `stats_v2_tmp` or `stats_v1.bak` must not be
  // read as a version
  private def latestVersion(store: String,
                            prefix: String): Option[(Int, String)] = {
    val re = ("^" + prefix + "_v(\\d+)$").r
    Option(new java.io.File(store).listFiles()).toSeq.flatten
      .flatMap(f => re.findFirstMatchIn(f.getName)
        .map(m => m.group(1).toInt -> f.toString))
      .sortBy(_._1).lastOption
  }

  /** Incremental decoded-stats maintenance (the io16 manifest pattern
    * applied to the decode family): reconcile the stored stats table
    * under `store` with the CURRENT corpus, decoding ONLY images whose
    * (id, md5 content hash) is not already stored (or already known to
    * fail at that content). Two corpus passes, each the cheapest one
    * possible for its job:
    *
    *   1. the staleness check — `fetchPayloads` over ALL presented ids,
    *      reduced to a materialized (id, content_hash) manifest; no
    *      codec runs, and every downstream leg joins the SMALL
    *      materialized manifest instead of re-scanning the corpus
    *      (recomputing it per leg measured ~3 corpus scans per
    *      reconcile — Spark does not share common subplans);
    *   2. the decode leg — `fetchPayloads` over ONLY the churn ids, so
    *      payload bytes are fetched and decoded at the churn rate, and
    *      no payload column ever enters a shuffle (the churn-id table
    *      is hash-sized; at gate/posture scale AQE broadcasts it).
    *
    * Undecodable payloads are persisted as (id, content_hash) in the
    * versioned `failed_v{n}` side table and skipped by the anti-join
    * until their content changes (a changed hash re-attempts).
    *
    * Versioned dirs (stats_v1, stats_v2, …) because a parquet dir
    * cannot be overwritten while it is being read (the st16 lesson).
    * SINGLE-WRITER per store: concurrent reconciles would race to
    * write the same stats_v{v+1} path — callers serialize (st24's
    * sequential foreachBatch satisfies this).
    *
    * `dropMissing = false` switches to APPEND-ONLY reconciliation (the
    * streaming-arrival contract, st24): the presented set is a batch of
    * arrivals, not a corpus snapshot, so stored ids absent from the
    * batch are kept — only changed-content ids are replaced. This also
    * makes re-delivered batches no-ops (at-least-once delivery folds to
    * exactly-once stats).
    */
  def reconcileStatsBy(spark: org.apache.spark.sql.SparkSession,
                       ids: DataFrame, idCol: String,
                       fetchPayloads: DataFrame => DataFrame,
                       payloadCol: String, store: String,
                       dropMissing: Boolean = true): ReconcileResult = {
    def fetch(sub: DataFrame): DataFrame =
      fetchPayloads(sub.select(col("id").as(idCol)))
        .select(col(idCol).cast("long").as("id"), col(payloadCol).as("payload"))
    val idsN = ids.select(col(idCol).cast("long").as("id"))
    // the reduced decode output is staged to parquet scratch under the
    // store, NOT localCheckpoint: checkpoint blocks pin the whole stats
    // table in executor storage memory with no recompute path (eviction
    // = job failure — the AGGREGATE_OUT_OF_MEMORY mode Ento.scala
    // documents at 100x), while a disk scratch is re-read twice and
    // freed (ADVICE r14). latestVersion's anchored ^stats_v(\d+)$ regex
    // never matches the scratch dir name.
    def staged(df: DataFrame, tag: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$store/scratch_decode_$tag")
      spark.read.parquet(s"$store/scratch_decode_$tag")
    }
    def dropStaged(tag: String): Unit =
      graft.core.TempDirs.deleteRecursively(
        java.nio.file.Path.of(s"$store/scratch_decode_$tag"))
    latestVersion(store, "stats") match {
      case None => try {
        // first build: the decode pass ITSELF emits the content hashes
        // (and the failures), so no separate manifest scan runs at all
        val all = staged(reduceStats(decodeStats(fetch(idsN), "id", "payload",
          withHash = true, emitFailures = true)), "v1")
        val good = all.filter(col("w").isNotNull)
        val bad = all.filter(col("w").isNull).select("id", "content_hash")
        val p = s"$store/stats_v1"
        good.write.parquet(p)
        // the failed table exists only when failures do — the clean path
        // pays zero extra jobs (a missing failed_v reads as empty)
        val nBad = bad.count()
        if (nBad > 0) bad.write.parquet(s"$store/failed_v1")
        val n = spark.read.parquet(p).count()
        ReconcileResult(n, n, nBad, p)
      // finally, not inline: a throw after staged() (disk-full on the
      // version write, a killed job) must not leak the scratch copy
      // into the store forever — later reconciles only ever delete
      // their OWN tag
      } finally dropStaged("v1")
      case Some((v, prev)) => try {
        val stored = spark.read.parquet(prev)
        val prevFailed = latestVersion(store, "failed") match {
          case Some((_, fp)) => spark.read.parquet(fp)
          case None => spark.createDataFrame(Seq.empty[(Long, String)])
            .toDF("id", "content_hash")
        }
        // pass 1: hash-only staleness manifest, materialized ONCE.
        // Checkpoint exactly the node each mode re-consumes: snapshot
        // mode reuses the MANIFEST (reuse + failed-carry legs);
        // append-only reuses CHANGED (reuse leg) — checkpointing both
        // unconditionally measured ~3 s of pure job overhead at sf0.1
        val manifest0 = fetch(idsN)
          .select(col("id"), md5(coalesce(col("payload"),
            lit(Array.emptyByteArray))).as("content_hash"))
        val manifest = if (dropMissing) Materialize.pin(manifest0)
                       else manifest0
        // churn = presented content that differs from stored; the decode
        // attempt additionally skips pairs already known to fail (their
        // stale stats still drop below — a content change to undecodable
        // bytes must not serve the old stats)
        val changed0 = manifest
          .join(stored.select("id", "content_hash"),
            Seq("id", "content_hash"), "left_anti")
        val changed = if (dropMissing) changed0 else Materialize.pin(changed0)
        val toDecodeIds = changed.join(prevFailed,
          Seq("id", "content_hash"), "left_anti")
        // pass 2: payloads fetched for the CHURN ids only
        val all = staged(reduceStats(decodeStats(fetch(toDecodeIds), "id",
          "payload", withHash = true, emitFailures = true)), s"v${v + 1}")
        val good = all.filter(col("w").isNotNull)
        val badNew = all.filter(col("w").isNull).select("id", "content_hash")
        val reuse =
          if (dropMissing)
            stored.join(manifest, Seq("id", "content_hash"), "left_semi")
          else // append-only: keep absent ids, replace changed-content ones
            stored.join(changed.select("id"), Seq("id"), "left_anti")
        val p = s"$store/stats_v${v + 1}"
        reuse.unionByName(good).write.parquet(p)
        // write a new failed version only when THIS run failed something:
        // the previous failed_v stays the live one otherwise (a stale
        // entry for a since-removed id is harmless — it only ever
        // suppresses a decode of bytes already known to fail), and the
        // no-failure path pays zero extra jobs. Carry-forward keeps old
        // pairs whole: a content revert to known-bad bytes must stay
        // skippable.
        val nBadNew = badNew.count()
        if (nBadNew > 0)
          prevFailed.unionByName(badNew).write
            .parquet(s"$store/failed_v${v + 1}")
        val nTotal = spark.read.parquet(p).count()
        val nGood = good.count()
        ReconcileResult(nGood, nTotal, nBadNew, p)
      } finally dropStaged(s"v${v + 1}")
    }
  }

  /** [[reconcileStatsBy]] over a payload-carrying DataFrame: the decode
    * leg semi-joins `df` down to the churn ids (the generic form — a
    * real corpus scan reads the payload column once more but decodes
    * only churn; callers that can fetch payloads BY id — object store,
    * synthesized fixtures — should use [[reconcileStatsBy]] directly
    * and skip that second full scan).
    */
  def reconcileStats(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                     idCol: String, payloadCol: String, store: String,
                     dropMissing: Boolean = true): ReconcileResult =
    reconcileStatsBy(spark, df.select(col(idCol)), idCol,
      sub => df.join(sub, Seq(idCol), "left_semi"),
      payloadCol, store, dropMissing)

  /** Frame sampling: k evenly-spaced fixed-width byte windows per payload
    * (video keyframe analog), exploded to one row per frame. Pure column
    * expressions — substring on BINARY — no UDF.
    */
  def sampleFrames(df: DataFrame, payloadCol: String, k: Int,
                   frameBytes: Int): DataFrame = {
    val n = octet_length(col(payloadCol))
    // floor division (Column `/` is double division; oracle uses `//`)
    val step = greatest(floor((n - frameBytes) / (k - 1)).cast("int"), lit(1))
    df.withColumn("frame_no", explode(sequence(lit(0), lit(k - 1))))
      .withColumn("frame_off", least(col("frame_no") * step + 1, greatest(n - frameBytes + 1, lit(1))))
      .withColumn("frame", expr(s"substring($payloadCol, frame_off, $frameBytes)"))
  }

  /** REAL resize: decode PNG → integer box-filter resample to w×h →
    * re-encode PNG. Non-PNG payloads resize to null (a real pipeline
    * would route by media_type first). Adds `payload_resized binary`
    * and `meta_resized` metadata.
    */
  def resize(df: DataFrame, payloadCol: String, w: Int, h: Int): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("payload_resized", BinaryType),
      StructField("meta_resized", metaType)))
    implicit val enc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { it =>
      it.map { row =>
        val bytes = row.get(idx).asInstanceOf[Array[Byte]]
        val resized = decodePngSafe(bytes).map { case (sw, sh, px) =>
          encodePng(boxResize(px, sw, sh, w, h), w, h)
        }.orNull
        // null metadata when the decode failed — corrupt/non-image rows
        // must not carry plausible-looking image metadata for a payload
        // that does not exist (mirrors decodeBytes' null-features contract)
        val meta = if (resized == null) null else Row("image/png", w, h)
        Row.fromSeq(row.toSeq ++ Seq(resized, meta))
      }
    }
  }

  /** Decoded-pixel fingerprint: lowercase hex `rrggbb` per pixel,
    * row-major (y outer, x inner), as one string column — the
    * cross-engine comparison form for image content (md5 it for a
    * compact digest). Null for non-PNG payloads.
    */
  def pixelHex(df: DataFrame, payloadCol: String,
               outCol: String = "px_hex"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField(outCol, StringType))
    implicit val enc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { it =>
      it.map { row =>
        val bytes = row.get(idx).asInstanceOf[Array[Byte]]
        val hexStr = decodePngSafe(bytes).map { case (_, _, px) =>
          val sb = new java.lang.StringBuilder(px.length * 6)
          var i = 0
          while (i < px.length) {
            sb.append(f"${px(i)}%06x")
            i += 1
          }
          sb.toString
        }.orNull
        Row.fromSeq(row.toSeq :+ hexStr)
      }
    }
  }

  /** Perceptual difference hash (dHash): decode → integer box-resize to
    * 9×8 → integer BT.601 luma (×299/587/114 ÷ 1000, floor) → one bit
    * per horizontal gradient (gray[i] > gray[i+1], 8 bits × 8 rows) →
    * 16-char lowercase hex. The near-duplicate-image detector: identical
    * content hashes equal, small recompressions/resizes flip few bits.
    * Null for undecodable payloads (the corrupt-row contract). Every
    * step is integer-exact, so the m05 oracle replays it from the pixel
    * formula in SQL.
    */
  def dHash(df: DataFrame, payloadCol: String,
            outCol: String = "dhash"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField(outCol, StringType))
    implicit val enc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { it =>
      it.map { row =>
        val bytes = row.get(idx).asInstanceOf[Array[Byte]]
        val hash = decodePngSafe(bytes).map { case (sw, sh, px) =>
          val rp = boxResize(px, sw, sh, 9, 8)
          val gray = new Array[Int](72)
          var k = 0
          while (k < 72) {
            val p = rp(k)
            gray(k) = (((p >> 16) & 0xFF) * 299 + ((p >> 8) & 0xFF) * 587 +
              (p & 0xFF) * 114) / 1000
            k += 1
          }
          val sb = new java.lang.StringBuilder(16)
          var j = 0
          while (j < 8) {
            var rb = 0
            var i = 0
            while (i < 8) {
              if (gray(j * 9 + i) > gray(j * 9 + i + 1)) rb |= (1 << i)
              i += 1
            }
            sb.append(f"$rb%02x")
            j += 1
          }
          sb.toString
        }.orNull
        Row.fromSeq(row.toSeq :+ hash)
      }
    }
  }

  // --------------------------------------------------------------------------
  // Audio arm: REAL WAV container bytes through the JDK sound stack.
  // --------------------------------------------------------------------------

  /** Synthesize the PCM16 samples for a doc — closed-form so a SQL
    * oracle can replay them: s[i] = ((id*31 + i*17) mod 65536) - 32768.
    */
  private[graft] def synthSamples(id: Long, n: Int): Array[Short] = {
    val out = new Array[Short](n)
    var i = 0
    while (i < n) {
      out(i) = (((id * 31 + i.toLong * 17) % 65536) - 32768).toShort
      i += 1
    }
    out
  }

  /** Encode PCM16 mono samples as a genuine RIFF/WAVE file via
    * javax.sound (AudioSystem writer — the real container encoder, not
    * a hand-rolled header).
    */
  private[graft] def encodeWav(samples: Array[Short], sampleRate: Float = 8000f): Array[Byte] = {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem, AudioFileFormat}
    val fmt = new AudioFormat(sampleRate, 16, 1, true, false) // PCM16LE mono
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      pcm(i * 2) = (samples(i) & 0xFF).toByte
      pcm(i * 2 + 1) = ((samples(i) >> 8) & 0xFF).toByte
      i += 1
    }
    val in = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(in, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Decode a WAV payload back to PCM16 samples via AudioSystem; corrupt
    * payloads yield None (null row downstream), never a task failure.
    *
    * The format is CHECKED, not assumed (ADVICE r7): a structurally
    * valid WAV in another encoding (8-bit PCM, big-endian, float,
    * stereo) would decode without exception and the raw-byte
    * reinterpretation below would yield garbage samples — so anything
    * that is not 16-bit little-endian signed mono PCM returns None,
    * honoring the "corrupt/unsupported payload -> null row" contract.
    */
  private[graft] def decodeWavSafe(bytes: Array[Byte]): Option[Array[Short]] =
    try {
      import javax.sound.sampled.{AudioFormat, AudioSystem}
      val ais = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      val f = ais.getFormat
      if (f.getEncoding != AudioFormat.Encoding.PCM_SIGNED ||
          f.getSampleSizeInBits != 16 || f.isBigEndian || f.getChannels != 1) {
        ais.close()
        return None
      }
      val raw = ais.readAllBytes()
      ais.close()
      val n = raw.length / 2
      val out = new Array[Short](n)
      var i = 0
      while (i < n) {
        out(i) = (((raw(i * 2 + 1) & 0xFF) << 8) | (raw(i * 2) & 0xFF)).toShort
        i += 1
      }
      Some(out)
    } catch { case _: Exception => None }

  /** Attach a REAL synthesized WAV payload per row (mono PCM16,
    * [[synthSamples]] content).
    */
  def withAudioPayload(df: DataFrame, idCol: String, n: Int = 400): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField("payload", BinaryType))
    implicit val enc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    // same narrow-id fan-out as withImagePayload (§2.5)
    val fanned = graft.core.Par.fanOut(df, col(idCol))
    val idx = fanned.schema.fieldIndex(idCol)
    fanned.mapPartitions { it =>
      it.map { row =>
        val id = row.get(idx).asInstanceOf[Number].longValue
        Row.fromSeq(row.toSeq :+ encodeWav(synthSamples(id, n)))
      }
    }
  }

  /** Decode WAV payloads and emit exact-integer waveform features:
    * n_samples, sum of samples, sum of squares (fits a long: 400 *
    * 32768^2 < 2^40), min, max, and the zero-crossing count (sign
    * changes between consecutive samples; zero counts as
    * non-negative). All integers — a SQL oracle replays them exactly.
    */
  def audioFeatures(df: DataFrame, payloadCol: String): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("n_samples", LongType), StructField("sum_amp", LongType),
      StructField("sum_sq", LongType), StructField("min_amp", LongType),
      StructField("max_amp", LongType), StructField("zero_crossings", LongType)))
    implicit val enc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { it =>
      it.map { row =>
        decodeWavSafe(row.get(idx).asInstanceOf[Array[Byte]]) match {
          case Some(ss) if ss.nonEmpty =>
            var sum = 0L; var sq = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
            var zc = 0L
            var i = 0
            while (i < ss.length) {
              val v = ss(i).toLong
              sum += v; sq += v * v
              if (v < mn) mn = v
              if (v > mx) mx = v
              if (i > 0 && ((ss(i - 1) >= 0) != (v >= 0))) zc += 1
              i += 1
            }
            Row.fromSeq(row.toSeq ++ Seq(ss.length.toLong, sum, sq, mn, mx, zc))
          case _ =>
            Row.fromSeq(row.toSeq ++ Seq(null, null, null, null, null, null))
        }
      }
    }
  }

  /** Frame-level energy decomposition of a WAV payload: decode, split
    * into consecutive `frameLen`-sample frames (a trailing partial frame
    * is dropped), emit one row per frame with its exact-integer energy
    * Σs² — the front half of energy-threshold voice-activity detection
    * (the segmentation itself is gaps-and-islands SQL downstream).
    * Corrupt payloads emit no frames, never task failures. Same
    * mapPartitions shape as [[audioFeatures]]: bounded per-row work, no
    * shuffle; the explode multiplies rows by n/frameLen only.
    */
  def audioFrameEnergies(df: DataFrame, payloadCol: String,
                         frameLen: Int): DataFrame = {
    require(frameLen > 0, s"frameLen must be positive, got $frameLen")
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("frame_idx", LongType), StructField("energy", LongType)))
    implicit val enc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { it =>
      it.flatMap { row =>
        decodeWavSafe(row.get(idx).asInstanceOf[Array[Byte]]) match {
          case Some(ss) =>
            (0 until ss.length / frameLen).map { f =>
              var e = 0L
              var i = f * frameLen
              val end = i + frameLen
              while (i < end) { val v = ss(i).toLong; e += v * v; i += 1 }
              Row.fromSeq(row.toSeq ++ Seq(f.toLong, e))
            }
          case None => Iterator.empty
        }
      }
    }
  }
}
