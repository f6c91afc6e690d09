package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** ODK instance-key plumbing (SURVEY.md §1.1): child rows carry
  * `KEY = 'uuid:.../repeat_name[k]'`; the reference parses that basename
  * to recover (repeat_name, repeat_key)
  * (pipeline-cleaning/R/processing_utils.R:272-275) and builds
  * `resolution_id = '{form_id}__{KEY}__{anomalies_id}'`
  * (05.run_anomaly_detection.R:57). Pure regexp projections.
  */
object OdkKeys {

  /** Last path segment of the instance key. */
  def keyBasename(key: Column): Column =
    regexp_extract(key, "([^/]+)$", 1)

  /** Repeat group name from a child KEY ('' for parent rows). */
  def repeatName(key: Column): Column =
    regexp_extract(keyBasename(key), "^([^\\[]+)\\[", 1)

  /** 1-based repeat index from a child KEY (null for parent rows). */
  def repeatKey(key: Column): Column =
    nullif(regexp_extract(keyBasename(key), "\\[([0-9]+)\\]", 1), lit("")).cast("int")

  /** Deterministic stable instance key: md5 of (namespace, natural key)
    * formatted as ODK's `uuid:xxxxxxxx-xxxx-xxxx-xxxx-xxxxxxxxxxxx` —
    * the UUIDv3-by-construction way to mint the keys [[repeatName]]/
    * [[repeatKey]] parse, reproducible from the source row (re-runs
    * mint the SAME key — idempotent landing, no random UUID drift).
    */
  def mintKey(namespace: String, natural: Column): Column = {
    val h = md5(concat(lit(namespace + ":"), natural.cast("string")))
    concat(lit("uuid:"),
      substring(h, 1, 8), lit("-"), substring(h, 9, 4), lit("-"),
      substring(h, 13, 4), lit("-"), substring(h, 17, 4), lit("-"),
      substring(h, 21, 12))
  }
}
