package graft.enrich

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Entity-id normalization and validation (reference:
  * OLD/get_entities.py:32-43 — DNI/CIF/NIE checks after upper-casing and
  * stripping `- .` separators; checking/fix_contracter_ids.py:74-83 —
  * malformed id-shape repair).
  */
object Entities {

  /** Uppercase + strip dashes, dots and spaces (reference: get_entities.py:33). */
  def normalizeId(c: Column): Column = upper(translate(c, "-. ", ""))

  private val dniRe = "^[0-9]{8}[A-Z]$"
  private val nieRe = "^[XYZ][0-9]{7}[A-Z]$"
  private val cifRe = "^[A-Z][0-9]{7}[0-9A-J]$"

  /** Classify a normalized id: DNI / NIE / CIF / INVALID. Order matters —
    * NIE is checked before CIF because both start with a letter.
    */
  def classifyId(norm: Column): Column =
    when(norm.rlike(dniRe), lit("DNI"))
      .when(norm.rlike(nieRe), lit("NIE"))
      .when(norm.rlike(cifRe), lit("CIF"))
      .otherwise(lit("INVALID"))

  /** Contracter-id shape repair (reference: fix_contracter_ids.py:74-83):
    * a list of single characters is re-joined into one id string; any
    * other array is kept element-wise stringified; scalars promote to
    * 1-element arrays. Input: array<string> column.
    */
  def fixContracterIds(c: Column): Column =
    when(forall(c, x => length(x) === 1) && size(c) > 1, array(concat_ws("", c)))
      .otherwise(c)
}
