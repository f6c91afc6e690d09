package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for each left row, the payload of the single right row
  * with the greatest timestamp at-or-before (or strictly before) the
  * left row's timestamp, per key — the snapshot-lookup shape the
  * reference simulates with per-run as-of filters
  * (`pipeline-reporting/R/01.knit_reports.R:65` weekly snapshots) and
  * the classic prices→trades temporal join.
  *
  * Spark has no native as-of join; the naive formulations are a range
  * join (plans as a nested loop) or a windowed all-pairs join (explodes
  * on matches). This is the scalable UNION form: tag both sides, one
  * shuffle on the key, per-key sort by (ts, side), forward-fill the
  * right payload with last(ignoreNulls) — every row is touched exactly
  * once, no join amplification, O(n log n) per key. At cluster scale the
  * single exchange on the key is the whole cost, and skewed keys can be
  * pre-salted because the fill is a prefix scan.
  *
  * `strict = false` (default): right rows at ts == left ts match
  * (right sorts before left on ties). `strict = true`: only ts < left
  * ts (left sorts first). Right rows must be unique per (key, ts) for
  * deterministic output — pre-aggregate otherwise.
  *
  * `toleranceSecs`: maximum staleness — a match older than the left
  * timestamp by more than this many seconds is rejected (payload goes
  * null), the guard that stops a year-old snapshot silently enriching
  * today's rows when a key went quiet. Same single-exchange plan: the
  * matched timestamp rides inside the payload struct and the check is
  * a post-fill projection.
  */
object AsOfJoin {

  def asOf(left: DataFrame, right: DataFrame, key: String,
           leftTs: String, rightTs: String,
           strict: Boolean = false,
           toleranceSecs: Option[Long] = None): DataFrame = {
    val payload = right.columns.filter(c => c != key && c != rightTs).toSeq
    require(payload.nonEmpty, "right side needs at least one payload column")
    val conflict = payload.intersect(left.columns.toSeq)
    require(conflict.isEmpty, s"payload columns collide with left: $conflict")
    require(!payload.contains("__rts"),
      "right side may not have a column named __rts (reserved for the tolerance gate)")
    // side tag ordering encodes the tie rule: non-strict puts right
    // first at equal ts (its payload is visible to the fill), strict
    // puts left first (same-ts right rows excluded)
    val (rightTag, leftTag) = if (strict) (1, 0) else (0, 1)
    val l = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(leftTag))
    // payload travels as ONE struct so the matched right row is atomic:
    // filling columns independently would let a null payload value
    // inherit an older row's value, which is not as-of semantics.
    // Right rows with a null key or null ts can never match under SQL
    // equality/inequality — dropped here so they don't leak into the
    // null-key window partition (left rows with null key/ts are KEPT
    // and surface with a null payload, matching ASOF LEFT JOIN; null
    // ts sorts first so the fill sees nothing).
    val r = right
      .filter(col(key).isNotNull && col(rightTs).isNotNull)
      .select(col(key), col(rightTs).as("__ts"),
        struct(col(rightTs).as("__rts") +: payload.map(col): _*).as("__pay"))
      .withColumn("__side", lit(rightTag))
    val unioned = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(key).orderBy(col("__ts").asc_nulls_first, col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = unioned
      .withColumn("__pay", last(col("__pay"), ignoreNulls = true).over(w))
      .filter(col("__side") === leftTag)
    val gated = toleranceSecs match {
      case Some(tol) =>
        // reject stale matches: null the whole payload struct when the
        // matched right timestamp trails the left one by more than tol
        filled.withColumn("__pay",
          when(unix_micros(col(leftTs).cast("timestamp"))
                 - unix_micros(col("__pay.__rts").cast("timestamp"))
                 <= tol * 1000000L,
            col("__pay")))
      case None => filled
    }
    gated.select(left.columns.toSeq.map(col) ++
      payload.map(c => col(s"__pay.$c").as(c)): _*)
  }
}
