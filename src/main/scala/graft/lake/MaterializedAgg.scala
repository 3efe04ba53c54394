package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental materialized aggregate — per-drop partial-aggregate
  * segments, merged at read.
  *
  * The reference recomputes its corpus summary from scratch on every run
  * (calc_summary.py:53-80 — one full pass over the collection each
  * invocation), which is the right shape for a small lake and O(corpus)
  * at 100 TB. The decomposable-aggregate identity (count/sum/min/max
  * distribute over disjoint partitions; avg = sum/count at serve) makes
  * summaries churn-proportional instead: each monthly drop lands ONE
  * aggregate-sized partial segment, and serving merges segments — a read
  * of aggregate-sized data, never a rescan of raw history. This is the
  * aggregate twin of the sidecar-index pattern
  * ([[BloomIndex.refreshSnapshot]] for point lookups,
  * [[graft.ops.DedupIndex]] for near-dup, [[graft.ops.SimilarityIndex]]
  * for ANN): build per churn, serve from the artifact.
  *
  * Layout at `path`: one parquet dir per drop, `path/seg=<dropId>`
  * (Spark's partition discovery exposes `seg` as a column for free).
  * Landing a segment is staged-swap and SEGMENT-scoped: re-landing the
  * same drop id replaces exactly that segment (idempotent re-ingest,
  * the reference's own monthly posture), and never rewrites — or even
  * reads — any other drop's bytes.
  *
  * Exactness: the merge is only as order-independent as the measures.
  * Counts and int64 sums (money on the cents grid) are exact; float
  * sums would not be — callers route money through the cents grid, the
  * same convention as every oracle query (SparkEntry.cents).
  *
  * Scale: partial aggregation happens inside each drop's pass (map-side
  * combine into group-sized rows), so the shuffle carries groups, not
  * rows; serve shuffles `segments x groups` rows. When segment count
  * itself grows large, [[compact]] folds history into one segment —
  * cost O(aggregate rows), never a raw-data rescan.
  */
object MaterializedAgg {

  /** The aggregate's shape: grouping dims + decomposable measures.
    * `n` (row count) is always maintained. Aliases must be distinct
    * across sums/mins/maxs and not collide with dims or `n`.
    */
  final case class Spec(dims: Seq[String],
                        sums: Seq[(String, Column)] = Nil,
                        mins: Seq[(String, Column)] = Nil,
                        maxs: Seq[(String, Column)] = Nil) {
    private[MaterializedAgg] def aliases: Seq[String] =
      (sums ++ mins ++ maxs).map(_._1)
    require(aliases.distinct == aliases, "measure aliases must be distinct")
    require(!aliases.exists(a => a == "n" || dims.contains(a) || a == "seg"),
      "measure aliases must not collide with dims, 'n', or 'seg'")
  }

  private def segDir(path: String, dropId: String): String = {
    require(dropId.nonEmpty && dropId.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"drop id must be [A-Za-z0-9_-]+: '$dropId'")
    s"$path/seg=$dropId"
  }

  /** One drop's partial aggregate: group-sized, exact for the measure
    * kinds above. This is the ONLY pass over the drop's raw rows.
    */
  def partial(drop: DataFrame, spec: Spec): DataFrame = {
    // layout is path/seg=<drop>: a dim or measure named 'seg' would
    // silently alias the partition-discovery column at serve time (the
    // same reserved-name rule as graft.ops.Sketches.requireNoSegColumn)
    require(!(spec.dims ++ spec.sums.map(_._1) ++ spec.mins.map(_._1) ++
        spec.maxs.map(_._1)).contains("seg"),
      "materialized-agg: 'seg' is reserved for the segment partition column")
    val aggs =
      spec.sums.map { case (a, c) => sum(c).as(a) } ++
      spec.mins.map { case (a, c) => min(c).as(a) } ++
      spec.maxs.map { case (a, c) => max(c).as(a) }
    drop.groupBy(spec.dims.map(col): _*)
      .agg(count(lit(1)).as("n"), aggs: _*)
  }

  /** Land (or idempotently replace) the drop's segment. Other segments'
    * bytes are untouched. Returns the segment's group count.
    */
  def landDrop(drop: DataFrame, spec: Spec, path: String, dropId: String): Long = {
    val spark = drop.sparkSession
    Staged.land(spark, segDir(path, dropId), partial(drop, spec))
  }

  /** CDC form of [[landDrop]]: maintain the summary from a snapshot
    * CHANGE FEED instead of full drops. Counts and sums are retractable
    * (a delete or update_pre row applies with sign -1, an insert or
    * update_post with +1 — consume
    * [[SnapshotLake.changesBetween]]`(from, to, preImages = true)`);
    * min/max are NOT retractable (a retracted extremum cannot be
    * recomputed from aggregate state alone), so the spec must carry
    * none — use full-drop [[landDrop]] segments when extrema matter.
    * One segment per version interval; re-landing an interval's drop id
    * replaces it (idempotent replay, like every segment land). A group
    * whose rows all cancel serves n = 0 and is dropped at [[serve]].
    */
  def landChangesDrop(changes: DataFrame, spec: Spec, path: String, dropId: String,
                      changeTypeCol: String = "change_type"): Long = {
    require(spec.mins.isEmpty && spec.maxs.isEmpty,
      "min/max are not retractable from a change feed; use landDrop over full drops")
    val spark = changes.sparkSession
    // an unrecognized change type must fail the job, not silently count
    // as an insert (a feed with e.g. "carried" rows would drift the sum)
    val sign = when(col(changeTypeCol).isin("delete", "update_pre"), lit(-1L))
      .when(col(changeTypeCol).isin("insert", "update_post"), lit(1L))
      .otherwise(raise_error(concat(
        lit(s"landChangesDrop: unrecognized $changeTypeCol '"),
        col(changeTypeCol), lit("'"))))
    val aggs = spec.sums.map { case (a, c) => sum(sign * c).as(a) }
    val partial = changes.groupBy(spec.dims.map(col): _*)
      .agg(sum(sign).as("n"), aggs: _*)
    Staged.land(spark, segDir(path, dropId), partial)
  }

  /** The merged aggregate over every landed segment — reads only
    * aggregate-sized partials. Column order: dims, n, sums, mins, maxs.
    * Groups whose retractions cancelled every row (n = 0, only possible
    * via [[landChangesDrop]] segments) are dropped — they no longer
    * exist in the maintained state.
    */
  def serve(spark: SparkSession, path: String, spec: Spec): DataFrame = {
    val merged =
      spec.sums.map { case (a, _) => sum(col(a)).as(a) } ++
      spec.mins.map { case (a, _) => min(col(a)).as(a) } ++
      spec.maxs.map { case (a, _) => max(col(a)).as(a) }
    spark.read.parquet(path)
      .groupBy(spec.dims.map(col): _*)
      .agg(sum(col("n")).as("n"), merged: _*)
      .filter(col("n") =!= 0)
  }

  /** Fold all segments into one (`dropId`), dropping the rest — bounds
    * segment count without ever rescanning raw data. Serve results are
    * unchanged (the merge is associative). The WHOLE summary root swaps
    * in one rename: a sequence of per-segment deletes would have a
    * window where a concurrent serve double-counts (folded segment
    * landed, old segments not yet gone) — old root, new root, or none,
    * never a double-counting mix.
    */
  def compact(spark: SparkSession, path: String, spec: Spec, dropId: String): Unit = {
    require(dropId.nonEmpty && dropId.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"drop id must be [A-Za-z0-9_-]+: '$dropId'")
    // checkpoint: the folded rows must be materialized before the root
    // they were computed from is deleted out from under the plan
    Staged.swapRoot(spark, path,
      serve(spark, path, spec).localCheckpoint(true), s"seg=$dropId")
  }
}
