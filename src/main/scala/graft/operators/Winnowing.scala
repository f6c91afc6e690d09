package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Materialize

/** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
  * 2003): hash every k-gram, slide a w-hash window, keep each window's
  * minimum hash (rightmost position on ties). The selected ~2/(w+1)
  * fraction GUARANTEES any substring shared between two documents of
  * length >= w+k-1 contributes at least one common fingerprint.
  *
  * Scale shape: the whole selection is per-row HOF arithmetic (k-gram
  * key array -> sliding array_min -> array_distinct) — zero shuffle
  * until the ~12% survivors explode into (doc_id, hash) rows. The
  * fixed-width key hash||pad(MAX-pos) makes plain string MIN implement
  * the (min hash, rightmost pos) rule exactly.
  */
object Winnowing {

  /** docs(doc_id, text) -> (doc_id, h): the distinct selected
    * fingerprint hashes per document. Documents shorter than w+k-1
    * chars have no full window and yield no rows. */
  def fingerprints(docs: DataFrame, k: Int = 8, w: Int = 16): DataFrame = {
    val txt = col("text")
    val n = length(txt)
    // 12-digit pad: fixed-width (min hash, RIGHTMOST pos) ordering holds to
    // 1e12-char documents (an 8-digit pad broke lexicographic order past
    // ~100M chars — ADVICE r8); the constant stays exactly representable
    val keys = transform(sequence(lit(0), n - k),
      u => concat(substring(md5(txt.substr(u + 1, lit(k))), 1, 16),
        format_string("%012d", lit(999999999999L) - u)))
    // keys MUST be lambda-bound (bind1): referenced bare inside the
    // window transform, Catalyst inlines the whole k-gram hash array
    // into every slice() — O(n^2) md5 per doc (measured: 487 s vs 11.6 s
    // at the 10x smoke). Bound once, the pass is O(n*w) string compares.
    val selected = graft.functions.TextFunctions.bind1(keys) { ks =>
      array_distinct(transform(sequence(lit(0), size(ks) - w),
        st => substring(array_min(slice(ks, st + 1, lit(w))), 1, 16)))
    }
    graft.core.Par.fanOut(docs, col("doc_id")).filter(n >= k + w - 1)
      .select(col("doc_id"), explode(selected).as("h"))
  }

  /** Production fingerprint path: the fused WinnowingHashes codegen
    * kernel — one byte scan, XXH64 grams, O(n) monotonic-deque sliding
    * min (vs the md5/HOF form's O(n*w)), 8-byte hashes end-to-end. A
    * different (equally valid) hash family than the md5-string oracle
    * form, so positions selected differ; the detection guarantee and
    * ~2/(w+1) density are family-independent (WinnowingSpec pins both
    * on this path too). */
  def fingerprintsHashed(docs: DataFrame, k: Int = 8, w: Int = 16): DataFrame =
    // octet_length, not length: the kernel windows BYTES, so a multi-byte
    // doc with >= w+k-1 bytes but fewer characters must not be skipped
    graft.core.Par.fanOut(docs, col("doc_id"))
      .filter(octet_length(col("text")) >= k + w - 1)
      .select(col("doc_id"),
        explode(graft.plans.WinnowingHashes(col("text"), k, w)).as("h"))

  /** Cross-document overlap pairs over the fingerprint sets, with a
    * stop-fingerprint cap (hashes in > maxDocs docs are boilerplate and
    * dropped before pairing — the LSH bucket-cap convention). */
  def overlapPairs(docs: DataFrame, k: Int = 8, w: Int = 16,
                   maxDocs: Int = 20, minShared: Int = 8,
                   hashed: Boolean = false): DataFrame = {
    // the cap window and the self-join both read the survivor set:
    // checkpoint it once (vals name plans, not results — the g09 rule)
    val fp = if (hashed) fingerprintsHashed(docs, k, w) else fingerprints(docs, k, w)
    val kept = Materialize.pin(fp
      .withColumn("nd", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("nd") <= maxDocs).drop("nd"))
    val b = kept.select(col("doc_id").as("doc_b"), col("h"))
    kept.select(col("doc_id").as("doc_a"), col("h"))
      .join(b, Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
