package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Timestamp normalization + version-timeline algebra.
  *
  * The reference stores the `updated` version timeline as either one
  * timestamp string or a sorted list of timestamp strings, truncated to 19
  * chars `YYYY-MM-DD HH:MM:SS` (reference: nextplib/ntp_utils.py:229-265
  * `exists_update`/`merge_updates`). All comparisons are done on the
  * truncated string form, which sorts correctly lexicographically.
  */
object TimeFns {
  /** Truncate/format to the 19-char canonical form (reference:
    * ntp_utils.py:237-246; checking/clean_place.py:158-160).
    * Works for both TimestampType (formats) and StringType (truncates).
    */
  def canon(ts: Column): Column = date_format(ts, "yyyy-MM-dd HH:mm:ss")

  /** Normalize scalar-or-array `updated` to a canonical sorted array
    * (scalar is promoted to a 1-element array; reference handles both
    * shapes in ntp_utils.py:229-255).
    */
  def toUpdatesArray(updated: Column): Column =
    // array_compact: a null/unparseable timestamp must yield [] — a
    // [null] timeline poisons arrays_overlap to SQL NULL downstream,
    // and a row whose overlap is NULL falls out of BOTH classification
    // branches (neither merged nor fresh: silently lost from the ingest)
    array_sort(array_distinct(array_compact(array(canon(updated)))))

  /** Merge two update timelines: union + dedupe + sort (reference:
    * ntp_utils.py:257-265 `merge_updates`).
    */
  def mergeUpdates(a: Column, b: Column): Column =
    array_sort(array_distinct(concat(a, b)))

  /** "Is this the same version?" — any timestamp in common after
    * truncation (reference: ntp_utils.py:229-255 `exists_update`).
    * Both sides must already be canonical arrays.
    */
  def updatesOverlap(a: Column, b: Column): Column = arrays_overlap(a, b)
}
