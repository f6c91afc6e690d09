package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Materialize

/** PII sanitation operators from SURVEY.md §2.2 (P2-P5, P12).
  *
  * Scale notes: everything except `pruneEmptyColumns` is a narrow
  * projection. `pruneEmptyColumns` needs one aggregate pass over the data
  * (count per column) — at 100 TB run it on a sample or maintain the
  * counts as table statistics; the operator takes the observed counts so
  * callers choose.
  */
object Sanitize {

  /** P2 (PII column drop): drop denylisted + regex-matched columns.
    * Ref: processing_utils.R:49-118.
    */
  def dropPii(df: DataFrame, denylist: Seq[String],
              patterns: Seq[String] = Nil): DataFrame = {
    val direct = denylist.filter(df.columns.contains)
    val byPattern = df.columns.filter(c => patterns.exists(p => c.matches(p)))
    df.drop((direct ++ byPattern).distinct: _*)
  }

  /** P3 (ID hashing): cryptographic digest over every present id
    * column. The reference pins sha1 (processing_utils.R:120-144,
    * digest algo='sha1'), kept as the default; sha256 is offered for
    * deployments off sha1 — both are codegen'd built-ins producing
    * lowercase hex, so the projection shape is identical.
    */
  def hashIds(df: DataFrame, idColumns: Seq[String],
              algo: String = "sha1"): DataFrame = {
    val digest: Column => Column = algo match {
      case "sha1"   => sha1
      case "sha256" => sha2(_, 256)
      case other    => throw new IllegalArgumentException(
        s"unsupported hash algo '$other' (sha1 | sha256)")
    }
    idColumns.intersect(df.columns.toSeq).foldLeft(df)((d, c) =>
      d.withColumn(c, digest(col(c).cast("string"))))
  }

  /** P4 (empty-column prune): drop columns that are entirely null.
    * One aggregate job; at scale prefer sampled counts.
    * Ref: processing_utils.R:147-150 (janitor::remove_empty).
    */
  def pruneEmptyColumns(df: DataFrame): DataFrame = {
    val counts = df.select(df.columns.map(c => count(col(c)).as(c)).toIndexedSeq: _*)
      .head()
    val empty = df.columns.zipWithIndex.collect {
      case (c, i) if counts.getLong(i) == 0L => c
    }
    df.drop(empty.toIndexedSeq: _*)
  }

  /** P5 (GPS jitter): per-key FIXED pseudo-random displacement of radius
    * `r` degrees. The reference seeds R's RNG once per run
    * (processing_utils.R:156-178, set.seed(1001)) so the same household is
    * always displaced the same way; we keep that contract with a hash-based
    * angle — deterministic per (key, seed) regardless of partitioning,
    * unlike rand(), which would re-jitter per task attempt.
    */
  def jitterLocation(df: DataFrame, keyCol: String, lonCol: String,
                     latCol: String, r: Double = 0.01,
                     seed: Long = 1001L): DataFrame = {
    val buckets = 4096
    val angle = (pmod(xxhash64(col(keyCol), lit(seed)), lit(buckets))
      .cast("double") / buckets) * (2 * math.Pi)
    df.withColumn(lonCol, col(lonCol) + lit(r) * cos(angle))
      .withColumn(latCol, col(latCol) + lit(r) * sin(angle))
  }

  /** P12 (manual exception masking): for rows whose key is in the exception
    * list, null out every column except the whitelisted ones; other rows
    * pass through untouched. Single projection — no split/union needed.
    * Ref: processing_utils.R:559-597.
    */
  def maskExceptions(df: DataFrame, keyCol: String, exceptionKeys: Seq[Any],
                     keep: Seq[String]): DataFrame = {
    val hit = col(keyCol).isin(exceptionKeys: _*)
    df.select(df.columns.map { c =>
      if (keep.contains(c) || c == keyCol) col(c)
      else when(hit, lit(null).cast(df.schema(c).dataType)).otherwise(col(c)).as(c)
    }.toIndexedSeq: _*)
  }

  /** P15 (k-anonymity suppression): rows whose quasi-identifier
    * combination occurs fewer than `k` times get those QI columns
    * nulled ("suppressed"); every row carries its QI group size and a
    * suppression flag. The release-gate companion to dropPii/hashIds:
    * direct identifiers go through those, while rare QI combinations —
    * re-identifiable by linkage even without direct ids — go through
    * this. Plan shape: one hash aggregate over the QI columns (its
    * cardinality is the number of QI combinations, not rows) joined
    * back — AQE broadcasts it when small; no window sort. QI columns
    * are assumed non-null (nulls form their own group only under a
    * null-safe join; document per deployment).
    * Ref: the same release-hygiene family as processing_utils.R:49-118.
    */
  def kAnonymize(df: DataFrame, qiCols: Seq[String], k: Long): DataFrame = {
    require(qiCols.nonEmpty && qiCols.forall(df.columns.contains),
      s"quasi-identifier columns ${qiCols.mkString(",")} must exist")
    val sizes = df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("qi_group_n"))
    val ok = col("qi_group_n") >= k
    val joined = df.join(sizes, qiCols)
    val suppressed = qiCols.foldLeft(joined)((d, c) =>
      d.withColumn(c, when(ok, col(c))))
    suppressed.withColumn("suppressed", !ok)
  }

  /** k-anonymity via a two-level generalization ladder (Sweeney 2002's
    * domain generalization, one rung): rows whose FINE quasi-identifier
    * group reaches k keep it; the rest re-group under the COARSE QI
    * (e.g. nation -> region) and keep that when the residual group
    * reaches k; still-small groups suppress. Generalize-then-suppress
    * releases strictly more data than [[kAnonymize]]'s suppress-only
    * policy at the same k.
    *
    * Two hash aggregates (fine groups; coarse groups over the residual
    * only) joined back — group tables are QI-cardinality-sized, AQE
    * broadcasts them. Output adds `anon_level` ('fine' | 'coarse' |
    * 'suppressed') and nulls the generalized/suppressed QI columns.
    */
  def kAnonymizeLadder(df: DataFrame, fineCols: Seq[String],
                       coarseCols: Seq[String], k: Long): DataFrame = {
    require(fineCols.nonEmpty && coarseCols.nonEmpty,
      "both QI levels must be non-empty")
    require((fineCols ++ coarseCols).forall(df.columns.contains),
      s"QI columns ${(fineCols ++ coarseCols).mkString(",")} must exist")
    val fine = df.groupBy(fineCols.map(col): _*)
      .agg(count(lit(1)).as("_fine_n"))
    val withFine = df.join(fine, fineCols)
    val residual = withFine.filter(col("_fine_n") < k)
    val coarse = residual.groupBy(coarseCols.map(col): _*)
      .agg(count(lit(1)).as("_coarse_n"))
    val staged = withFine.join(coarse, coarseCols, "left")
    val level = when(col("_fine_n") >= k, "fine")
      .when(col("_coarse_n") >= k, "coarse")
      .otherwise("suppressed")
    val fineOnly = fineCols.filterNot(coarseCols.contains)
    val out = fineOnly.foldLeft(staged)((d, c) =>
      d.withColumn(c, when(level === "fine", col(c))))
    coarseCols.foldLeft(out)((d, c) =>
        d.withColumn(c, when(level =!= "suppressed", col(c))))
      .withColumn("anon_level", level)
      .drop("_fine_n", "_coarse_n")
  }

  /** Per-entity consistent date shifting (the HIPAA-style de-id move
    * p05 makes in space): every timestamp of an entity shifts by the
    * SAME seeded offset in [-maxDays, +maxDays], so within-entity
    * intervals (ages, follow-up gaps, session lengths) survive exactly
    * while absolute dates break linkage. Offset = md5(entity, seed) mod
    * (2*maxDays+1) - maxDays — reproducible, and a re-release under a
    * new seed re-randomizes. Narrow projection, no shuffle.
    */
  def shiftDates(df: DataFrame, entityCol: String, tsCols: Seq[String],
                 maxDays: Int, seed: String): DataFrame = {
    require(maxDays >= 1, s"maxDays must be >= 1, got $maxDays")
    require(tsCols.nonEmpty && tsCols.forall(df.columns.contains),
      s"timestamp columns ${tsCols.mkString(",")} must exist")
    val span = 2 * maxDays + 1
    val off = (conv(substring(md5(concat(col(entityCol).cast("string"),
      lit(seed))), 1, 8), 16, 10).cast("long") % span - maxDays).cast("int")
    val shifted = tsCols.foldLeft(df)((d, c) =>
      d.withColumn(c, col(c) + make_dt_interval(off)))
    shifted.withColumn("shift_days", off)
  }

  /** Differentially-private count release (Dwork 2006): add
    * Laplace(sensitivity/epsilon) noise to each group's count. The
    * noise is SEEDED — uniform u from the md5 of the group key + seed,
    * mapped through the Laplace inverse CDF
    *   noise = -b * sign(u - 1/2) * ln(1 - 2*|u - 1/2|)
    * — so releases are reproducible and a cross-engine oracle can
    * replay them exactly (the p05 jitter / w02 shuffle contract; a
    * re-release under a NEW seed is what privacy accounting expects,
    * same as rotating the jitter seed). Count sensitivity is 1, so
    * b = 1/epsilon. Noise rounds to 6dp (the float recipe: ln is libm,
    * stable-at-6dp across engines on this recipe's inputs).
    *
    * One hash aggregate + a narrow projection; `df` must already be the
    * per-group counts (count col `n_true`), keeping the operator
    * composable with any upstream aggregate.
    */
  def dpNoisyCount(counts: DataFrame, keyCols: Seq[String], epsilon: Double,
                   seed: String): DataFrame = {
    require(epsilon > 0, s"epsilon must be positive, got $epsilon")
    val b = 1.0 / epsilon
    val key = concat(keyCols.flatMap(c => Seq(col(c).cast("string"), lit("|")))
      .dropRight(1) :+ lit(seed): _*)
    val v = conv(substring(md5(key), 1, 8), 16, 10).cast("double") /
      lit(4294967296.0) - lit(0.5)
    val noise = round(lit(-b) * signum(v) * log(lit(1.0) - lit(2.0) * abs(v)), 6)
    counts.withColumn("n_noisy", col("n_true") + noise)
  }

  /** l-diversity audit (Machanavajjhala 2007): k-anonymity (kAnonymize)
    * bounds cohort SIZE, but a cohort whose sensitive attribute is
    * homogeneous still leaks it — this reports, per quasi-identifier
    * cohort, the distinct sensitive-value count (distinct l-diversity)
    * and the entropy diversity exp(H) (effective number of sensitive
    * values), with a `diverse` flag at the given l.
    *
    * Plan shape: one (QI, sens) hash aggregate — the only pass over the
    * data — then a QI-cardinality-sized re-aggregate; the entropy terms
    * round to 6 dp DECIMAL per value so the per-cohort sum is
    * order-independent, and the distinct count comes from the pre-agg
    * (no Expand, no distinct shuffle).
    */
  def lDiversityAudit(df: DataFrame, qiCols: Seq[String], sensCol: String,
                      l: Long): DataFrame = {
    require(qiCols.nonEmpty && (qiCols :+ sensCol).forall(df.columns.contains),
      s"columns ${(qiCols :+ sensCol).mkString(",")} must exist")
    // cohort totals + entropy terms share the one agg
    val vc = Materialize.pin(df.groupBy((qiCols :+ sensCol).map(col): _*)
      .agg(count(lit(1)).as("c")))
    val coh = vc.groupBy(qiCols.map(col): _*)
      .agg(sum("c").as("n"), count(lit(1)).as("l_distinct"))
    val p = col("c").cast("double") / col("n")
    val ent = vc.join(coh.select(qiCols.map(col) :+ col("n"): _*), qiCols)
      .groupBy(qiCols.map(col): _*)
      .agg(sum(round((lit(0.0) - p) * log(p), 6).cast("decimal(18,6)"))
        .as("ent"))
    coh.join(ent, qiCols)
      .select(qiCols.map(col) ++ Seq(
        col("n").cast("long").as("n"),
        col("l_distinct").cast("long").as("l_distinct"),
        round(exp(col("ent").cast("double")), 6).as("entropy_l"),
        (col("l_distinct") >= l).as("diverse")): _*)
  }

  /** Randomized response (Warner 1965), the local-DP release primitive:
    * each entity reports its TRUE binary attribute with probability
    * `pTruth` and the flipped bit otherwise, where the coin is a seeded
    * md5 draw on the entity id (replayable by an auditor holding the
    * seed — the p05/p16/p18 convention). The aggregate debiasing
    * estimator is (observed_rate - (1-pTruth)) / (2*pTruth - 1).
    * Narrow projection, no shuffle; ln(2*pTruth-1)-style privacy
    * accounting is the caller's concern.
    */
  def randomizedResponse(df: DataFrame, idCol: String, bitCol: String,
                         pTruth: Double, seed: String): DataFrame = {
    require(pTruth > 0.5 && pTruth < 1.0, s"pTruth in (0.5, 1), got $pTruth")
    val u = conv(substring(md5(concat(col(idCol).cast("string"), lit(seed))),
      1, 8), 16, 10).cast("double") / lit(4294967296.0)
    df.withColumn("resp",
      when(u < pTruth, col(bitCol)).otherwise(lit(1) - col(bitCol)))
  }
}
