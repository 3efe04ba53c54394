package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.Staged

/** Incremental PCA maintenance: the [[Pca.moments]] table is a sum of
  * per-row contributions, so it is a mergeable summary in exactly the
  * [[Sketches]] sense — per-drop segments land under `path/seg=<drop>`,
  * the serve merges them by plain (exact decimal) addition, and the
  * eigenbasis refreshes from the O(dim²) merged rows via
  * [[Pca.fitFromMoments]] WITHOUT ever re-reading earlier drops. Per
  * monthly drop the raw-data cost is O(churn); a 100 TB corpus's PCA
  * stays current for the price of scanning the new documents.
  *
  * Retraction: a CDC pre-image deletes by landing a `sign = -1` segment
  * (negated sums and counts) — decimal addition makes the merge exact,
  * so retract-then-reinsert converges to the from-scratch moments
  * bit-for-bit. Compaction folds all segments into one via the shared
  * whole-root swap ([[Staged.swapRoot]]): old root, new root, or none.
  */
object PcaIndex {

  private def segDir(path: String, dropId: String): String = {
    require(dropId.nonEmpty && dropId.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"drop id must be [A-Za-z0-9_-]+: '$dropId'")
    s"$path/seg=$dropId"
  }

  /** Land one drop's moment segment (idempotent per drop id: re-landing
    * replaces the segment, other segments' bytes never move). Returns
    * the segment row count (dim·(dim+3)/2 for a non-empty drop).
    */
  def landDrop(drop: DataFrame, vecCol: String, dim: Int,
               path: String, dropId: String, sign: Int = 1): Long = {
    require(sign == 1 || sign == -1, s"sign must be +1 (insert) or -1 (retract), got $sign")
    val spark = drop.sparkSession
    val seg = Pca.moments(drop, vecCol, dim)
      .select(col("i"), col("j"),
        (col("s") * lit(sign)).cast("decimal(38,15)").as("s"),
        (col("n") * lit(sign)).as("n"))
      // a segment is ≤ dim·(dim+3)/2 rows; writing it from the
      // aggregation's 32 shuffle partitions produced 32 near-empty
      // files each re-listed+footer-read by EVERY later serve/compact
      // (guide §6 small files) — one file per segment
      .coalesce(1)
    Staged.land(spark, segDir(path, dropId), seg)
  }

  /** Merged moments across every landed segment — the [[Pca.moments]]
    * schema, aggregate-sized (≤ dim·(dim+3)/2 rows).
    */
  def serveMoments(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(col("i"), col("j"))
      .agg(sum(col("s")).cast("decimal(38,15)").as("s"), sum(col("n")).as("n"))

  /** The current eigenbasis from the merged moments — no corpus scan. */
  def serveModel(spark: SparkSession, path: String, dim: Int, m: Int): Pca.PcaModel =
    Pca.fitFromMoments(serveMoments(spark, path), dim, m)

  /** Fold all segments into one under a single root swap. */
  def compact(spark: SparkSession, path: String, dropId: String = "base"): Unit =
    Staged.swapRoot(spark, path,
      // grid-sized — one output file (see landDrop's coalesce note)
      serveMoments(spark, path).coalesce(1).localCheckpoint(true), s"seg=$dropId")
}
