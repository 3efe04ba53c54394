package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.Staged

/** Distinct-count sketches as lake artifacts — the cardinality twin of
  * [[graft.lake.MaterializedAgg]].
  *
  * COUNT(DISTINCT) is the one summary measure that does NOT decompose
  * into count/sum/min/max partials (calc_summary.py:53-80 recomputes its
  * per-dimension cardinalities corpus-wide each run; A3 in SURVEY §2.5).
  * Two churn-proportional forms, both landed per drop and merged at
  * read:
  *
  *  - '''Exact''': a drop's segment stores its DISTINCT (dims, key)
  *    pairs — distinct is idempotent under union, so merged segments
  *    re-distinct to the exact corpus cardinality. Artifact size is
  *    O(distinct keys in drop): right whenever the key domain is
  *    bounded (customer ids, CPV codes); the raw drop is scanned once,
  *    at landing.
  *  - '''HLL sketch''' (Datasketches HLL via Spark's `hll_sketch_agg`):
  *    a segment is one 2^lgK-register sketch per group — KBs per group
  *    regardless of drop size. Sketches merge losslessly
  *    (`hll_union_agg`), so serve cost is segments x groups, and the
  *    estimate's error is the standard ~1.04/sqrt(2^lgK) envelope
  *    (~0.8% at the default lgK=14). Right when the domain is unbounded
  *    (URLs, doc digests) and ±1% answers the question.
  *
  * Both land staged-swap ([[graft.lake.Staged]]) under `path/seg=<drop>`
  * like every sidecar tier — re-landing a drop id is idempotent
  * replacement, other segments' bytes never move.
  */
object Sketches {

  private def segDir(path: String, dropId: String): String =
    s"$path/${segName(dropId)}" // one validation + layout definition (segName)

  /** Every tier's layout is `path/seg=<drop>`, so `seg` IS the
    * partition-discovery column on read: a data column of that name
    * would silently alias it and serve wrong groups. Guarded here, in
    * the SHARED layer, so no tier can forget it (the original guard sat
    * only on the top-k tier).
    */
  private[graft] def requireNoSegColumn(cols: Seq[String], tier: String): Unit =
    requireNoReserved(cols, tier)

  /** `seg` plus any tier-generated output columns: a dims/key of a
    * reserved name would silently alias the partition-discovery column
    * or collide with a generated aggregate. (An earlier hist guard
    * appended "bucket" to the CHECKED list instead of the RESERVED list
    * — a no-op that let dims=Seq("bucket") through to a confusing
    * duplicate-column failure.)
    */
  private[graft] def requireNoReserved(cols: Seq[String], tier: String,
                                       extra: Seq[String] = Nil): Unit = {
    val hit = cols.toSet.intersect(("seg" +: extra).toSet)
    require(hit.isEmpty,
      s"$tier tier: ${hit.mkString(", ")} reserved (segment partition / generated columns)")
  }

  // ------------------------------------------------------------ exact tier

  /** One drop's distinct (dims, key) set — the only raw-data pass. */
  def distinctSegment(drop: DataFrame, dims: Seq[String], keyCol: String): DataFrame = {
    requireNoSegColumn(dims :+ keyCol, "distinct")
    drop.select((dims :+ keyCol).map(col): _*).distinct()
  }

  def landDistinctDrop(drop: DataFrame, dims: Seq[String], keyCol: String,
                       path: String, dropId: String): Long = {
    val spark = drop.sparkSession
    Staged.land(spark, segDir(path, dropId), distinctSegment(drop, dims, keyCol))
  }

  /** Exact per-dims cardinality over every landed segment. Only
    * segment-distinct pairs shuffle — never raw rows.
    */
  def serveDistinct(spark: SparkSession, path: String, dims: Seq[String],
                    keyCol: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(dims.map(col): _*)
      .agg(count_distinct(col(keyCol)).as("n_distinct"))

  // ------------------------------------------------------------- HLL tier

  /** One drop's per-group HLL sketch (binary, mergeable). */
  def hllSegment(drop: DataFrame, dims: Seq[String], keyCol: String,
                 lgK: Int = 14): DataFrame = {
    requireNoSegColumn(dims :+ keyCol, "hll")
    drop.groupBy(dims.map(col): _*)
      .agg(hll_sketch_agg(col(keyCol), lit(lgK)).as("sketch"))
  }

  def landHllDrop(drop: DataFrame, dims: Seq[String], keyCol: String,
                  path: String, dropId: String, lgK: Int = 14): Long = {
    val spark = drop.sparkSession
    Staged.land(spark, segDir(path, dropId), hllSegment(drop, dims, keyCol, lgK))
  }

  /** Merged estimate per dims: union the segment sketches, estimate
    * once. Reads KB-sized sketches, touches no raw data.
    */
  def serveHllEstimate(spark: SparkSession, path: String, dims: Seq[String]): DataFrame =
    spark.read.parquet(path)
      .groupBy(dims.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"), lit(true))).as("n_estimate"))

  /** Metadata-only SET ALGEBRA across TWO sketch paths — the
    * join-cardinality-estimation primitive: per dims group, estimate
    * |A|, |B|, |A∪B| (pairwise sketch union) and derive
    * |A∩B| = max(0, |A|+|B|−|A∪B|) by inclusion–exclusion, reading
    * KB-sized sketches from both tiers and touching NO raw data on
    * either side. The intersection inherits the summed error of the
    * three estimates (≈3× the per-sketch envelope, relative to the
    * UNION size — the caller's audit bound should scale with |A∪B|,
    * not |A∩B|). A group present on one side only estimates the other
    * side as 0 and the union as the present side.
    */
  def serveHllSetAlgebra(spark: SparkSession, pathA: String, pathB: String,
                         dims: Seq[String]): DataFrame = {
    require(dims.nonEmpty, "set algebra needs at least one dims column")
    def est(segs: DataFrame, name: String) = segs
      .groupBy(dims.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"), lit(true))).as(name))
    val aSegs = spark.read.parquet(pathA)
    val bSegs = spark.read.parquet(pathB)
    // |A∪B| is ONE union_agg over both tiers' segments — the same
    // lossless merge the single-tier serve uses, so the union estimate
    // carries the identical error envelope as any serveHllEstimate call
    // (no separate pairwise-union code path to audit)
    val u = est(aSegs.unionByName(bSegs), "n_union")
    // every group of A or B appears in the union, so null-safe LEFT
    // joins from the union frame keep one-side-only AND null groups
    joinDimsNullSafe(
        joinDimsNullSafe(u, est(aSegs, "n_a"), dims, "left_outer"),
        est(bSegs, "n_b"), dims, "left_outer")
      .na.fill(0L, Seq("n_a", "n_b"))
      .withColumn("n_intersect",
        greatest(lit(0L), col("n_a") + col("n_b") - col("n_union")))
      .select((dims.map(col) ++ Seq(col("n_a"), col("n_b"),
        col("n_union"), col("n_intersect"))): _*)
  }

  // -------------------------------------------------------- compaction

  /** Fold all of a tier's segments into one (`dropId`) via the shared
    * whole-root swap — serve results unchanged (distinct is idempotent,
    * sketch union and bucket addition are associative), segment count
    * bounded without touching raw data. One per tier because the folded
    * form differs: re-distinct, sketch union, bucket sum.
    */
  def compactDistinct(spark: SparkSession, path: String, dims: Seq[String],
                      keyCol: String, dropId: String = "base"): Unit =
    Staged.swapRoot(spark, path,
      spark.read.parquet(path).select((dims :+ keyCol).map(col): _*)
        .distinct().localCheckpoint(true),
      segName(dropId))

  def compactHll(spark: SparkSession, path: String, dims: Seq[String],
                 dropId: String = "base"): Unit =
    Staged.swapRoot(spark, path,
      spark.read.parquet(path).groupBy(dims.map(col): _*)
        .agg(hll_union_agg(col("sketch"), lit(true)).as("sketch"))
        .localCheckpoint(true),
      segName(dropId))

  def compactHist(spark: SparkSession, path: String, dims: Seq[String],
                  dropId: String = "base"): Unit =
    Staged.swapRoot(spark, path,
      serveHist(spark, path, dims).localCheckpoint(true), segName(dropId))

  private def segName(dropId: String): String = {
    require(dropId.nonEmpty && dropId.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"drop id must be [A-Za-z0-9_-]+: '$dropId'")
    s"seg=$dropId"
  }

  /** Estimate-vs-exact audit column: true iff `est` is within `tol`
    * relative error of `exact` (exact == 0 demands est == 0).
    */
  def withinRelError(est: Column, exact: Column, tol: Double): Column =
    when(exact === 0, est === 0)
      .otherwise(abs(est.cast("double") - exact.cast("double")) / exact.cast("double") <= tol)

  // ------------------------------------------- histogram (distribution) tier

  /** One drop's per-group fixed-grid histogram — the DISTRIBUTION
    * sketch beside the cardinality tiers: bucket counts merge by plain
    * addition (exactly — they are counts), so per-drop segments serve
    * corpus quantiles with error bounded by the bucket width, no raw
    * rescan. Grid params (lo, width, nBuckets) must be identical across
    * a path's segments — they define the sketch, like lgK for HLL.
    */
  def histSegment(drop: DataFrame, dims: Seq[String], value: Column,
                  lo: Long, width: Long, nBuckets: Int): DataFrame = {
    requireNoReserved(dims, "hist", extra = Seq("bucket"))
    // a distribution is over VALUES: null rows would land in a NULL
    // bucket, inflate quantile ranks, and can surface as a null estimate
    drop.filter(value.isNotNull)
      .groupBy(dims.map(col) :+ Profiler.bucketOf(value, lo, width, nBuckets).as("bucket"): _*)
      .agg(count(lit(1)).as("n"))
  }

  def landHistDrop(drop: DataFrame, dims: Seq[String], value: Column,
                   lo: Long, width: Long, nBuckets: Int,
                   path: String, dropId: String): Long = {
    val spark = drop.sparkSession
    Staged.land(spark, segDir(path, dropId),
      histSegment(drop, dims, value, lo, width, nBuckets))
  }

  /** Merged histogram per dims: (dims..., bucket, n). */
  def serveHist(spark: SparkSession, path: String, dims: Seq[String]): DataFrame =
    spark.read.parquet(path)
      .groupBy(dims.map(col) :+ col("bucket"): _*)
      .agg(sum(col("n")).as("n"))

  // ------------------------- mergeable quantile-summary (ε-rank) tier

  /** One drop's per-group ε-approximate quantile summary — the
    * LONG-TAIL distribution member of the incremental tier, beside the
    * fixed-grid histogram: no grid to size, and the error bound is on
    * RANK, not value, so a heavy tail cannot blow it up the way it
    * blows up a fixed bucket width.
    *
    * A segment stores, per dims group of n rows, the `k` EXACT order
    * statistics at ranks ceil((2i-1)·n/(2k)) as weighted points whose
    * integer weights (largest-remainder split) sum to n — a classic
    * ε = 1/(2k) quantile summary. Summaries MERGE by plain multiset
    * union of weighted points (the mergeable-summaries result: a union
    * of ε-summaries is an ε-summary of the union), so serving a
    * quantile from S landed segments answers within rank error
    * Σ_seg (ceil(n_seg/(2k)) + 1)  <=  N/(2k) + 2·S
    * of the true rank. Everything is deterministic (exact order
    * statistics, fixed tie and weight rules) — specs and oracles pin
    * the bound as a hard boolean, the q_approx_distinct_bound pattern.
    *
    * The per-segment rank pass rides [[Quantiles.histogramCdf]]'s
    * bucketed prefix sums — full shuffle parallelism on the drop, no
    * per-group window over raw rows. Serve/compact windows run over the
    * POINTS frame (k · segments rows per group), never data. Like the
    * histogram grid's (lo, width, nBuckets), `k` defines the sketch:
    * keep it identical across a path's segments (a smaller-k segment
    * would silently widen the path's error envelope).
    */
  def quantileSegment(drop: DataFrame, dims: Seq[String], value: Column,
                      k: Int): DataFrame = {
    require(k >= 1, "quantileSegment: k must be >= 1")
    requireNoReserved(dims, "quantile", extra = Seq("v", "w"))
    val keyed = drop.filter(value.isNotNull)
      .select(groupStruct(dims).as("__qg"), value.as("__qv"))
    val cdf = Quantiles.histogramCdf(keyed, "__qg", "__qv")
    summarizePoints(cdf.select(col("__qg"), col("__qv").as("v"),
      col("c").as("w"), col("cum"), col("prev")), dims, k)
  }

  private def groupStruct(dims: Seq[String]): Column =
    if (dims.isEmpty) struct(lit(0).as("__all")) else struct(dims.map(col): _*)

  /** Null-SAFE equi-join on the dims columns (broadcast right side). A
    * NULL dims value is a legitimate group in every tier (groupBy keeps
    * it), but a plain column-name join drops it by three-valued logic —
    * which silently lost null-group cutoffs/totals and violated the
    * served bound invariants for exactly those groups. Same class as
    * the curation <=> fix; centralized so no tier re-grows it.
    */
  private def joinDimsNullSafe(left: DataFrame, right: DataFrame,
                               dims: Seq[String], how: String = "inner"): DataFrame = {
    val r = right.select(right.columns.toIndexedSeq.map(c =>
      if (dims.contains(c)) col(c).as(s"__r_$c") else col(c)): _*)
    left.join(broadcast(r),
        dims.map(d => col(d) <=> col(s"__r_$d")).reduce(_ && _), how)
      .drop(dims.map(d => s"__r_$d"): _*)
  }

  /** k weighted points from a weighted CDF (__qg, v, w, cum, prev).
    * The rank axis [0, n] splits into k spans at boundaries
    * b_i = floor(i·n/k); point i = the exact value at the MIDPOINT rank
    * of span (b_{i-1}, b_i], weight = the span width b_i - b_{i-1}. The
    * summary's cumulative weight after point i is exactly b_i, so its
    * CDF deviates from the true CDF by at most half the widest span —
    * ceil(n/(2k)) + 1. (A largest-remainder split by INDEX is wrong:
    * weights drift from the rank spacing and the deviation grows to
    * O(n·|n/k - round(n/k)|) — caught by the sf0.001 oracle probe.)
    * Shared by the segment builder (exact per-drop CDF) and compaction
    * (merged points CDF).
    */
  private def summarizePoints(cdf: DataFrame, dims: Seq[String], k: Int): DataFrame = {
    // effective k = min(k, n): a group smaller than k keeps EVERY value
    // with its true multiplicity (the summary degenerates to the exact
    // data) — empty spans would otherwise produce zero-weight points
    val tot = cdf.groupBy(col("__qg")).agg(sum(col("w")).as("__n"))
    val targets = tot.select(col("__qg").as("__qg2"), col("__n"),
        explode(sequence(lit(1), lit(k))).as("__i"))
      .withColumn("__k", least(lit(k.toLong), col("__n")))
      .filter(col("__i") <= col("__k"))
      .withColumn("__b", expr("(__i * __n) div __k"))
      .withColumn("__bp", expr("((__i - 1) * __n) div __k"))
      .withColumn("__w", col("__b") - col("__bp"))
      .withColumn("__r", expr("(__bp + __b + 2) div 2"))
    val named = dims.map(d => col("__qg").getField(d).as(d))
    cdf.join(targets,
        col("__qg") === col("__qg2") && col("prev") < col("__r") && col("__r") <= col("cum"))
      .select(named :+ col("v") :+ col("__w").as("w"): _*)
  }

  def landQuantileDrop(drop: DataFrame, dims: Seq[String], value: Column,
                       k: Int, path: String, dropId: String): Long = {
    val spark = drop.sparkSession
    Staged.land(spark, segDir(path, dropId), quantileSegment(drop, dims, value, k))
  }

  /** num/den-quantile estimate per dims from the merged summaries (e.g.
    * 1/2 = median): the value at weighted rank ceil(N·num/den). True
    * rank of the answer is within the summed segment bound (class doc).
    */
  def serveQuantile(spark: SparkSession, path: String, dims: Seq[String],
                    num: Int, den: Int): DataFrame = {
    require(num >= 1 && num < den, "quantile must be in (0, 1): num/den")
    val merged = spark.read.parquet(path)
      .groupBy(dims.map(col) :+ col("v"): _*).agg(sum(col("w")).as("w"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(dims.map(col): _*).orderBy(col("v"))
    val cum = merged.withColumn("__cw", sum(col("w")).over(win))
    val tot = merged.groupBy(dims.map(col): _*).agg(sum(col("w")).as("__qn"))
    val joined =
      if (dims.isEmpty) cum.crossJoin(broadcast(tot))
      else joinDimsNullSafe(cum, tot, dims)
    joined
      .withColumn("__t", expr(s"(__qn * $num + ${den - 1}) div $den"))
      .filter(col("__cw") - col("w") < col("__t") && col("__t") <= col("__cw"))
      .select(dims.map(col) :+ col("v").as("q_est"): _*)
  }

  /** Fold all quantile segments into one k-point summary. Each fold
    * re-summarizes the merged points, so it ADDS one ε of rank error —
    * the bound after a fold is the folded summary's ceil(N/(2k)) + 1
    * plus whatever the pre-fold segments carried. Cadence trade like
    * every compaction: bounded artifact count vs a bounded, documented
    * error increment.
    */
  def compactQuantile(spark: SparkSession, path: String, dims: Seq[String],
                      k: Int, dropId: String = "base"): Unit = {
    val merged = spark.read.parquet(path)
      .groupBy(dims.map(col) :+ col("v"): _*).agg(sum(col("w")).as("w"))
      .withColumn("__qg", groupStruct(dims))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__qg")).orderBy(col("v"))
    val cdf = merged.withColumn("cum", sum(col("w")).over(win))
      .withColumn("prev", col("cum") - col("w"))
      .select(col("__qg"), col("v"), col("w"), col("cum"), col("prev"))
    Staged.swapRoot(spark, path,
      summarizePoints(cdf, dims, k).localCheckpoint(true), segName(dropId))
  }

  // ------------------------------------------- heavy-hitters (top-k) tier

  /** One drop's per-dims top-`k` key counts — the FREQUENT-ITEMS member
    * of the incremental tier (SpaceSaving/Misra-Gries posture, exact
    * per-segment form). A segment retains the k highest (count, key)
    * pairs per dims group (ties broken by key — deterministic, so an
    * oracle can recompute retention exactly) plus the group's retention
    * `cutoff` = the largest DROPPED count (0 if nothing was dropped).
    *
    * Serve-time bounds per key, with segments S and P = segments
    * retaining the key:
    *   n_est = sum of retained counts over P   (<= true count, exact
    *           within each retaining segment)
    *   n_hi  = n_est + sum of cutoffs over S\P (>= true count: a
    *           non-retaining segment contributed at most its cutoff)
    * so n_est <= true <= n_hi always, and any key whose true count
    * exceeds the sum of ALL cutoffs is guaranteed to surface. The rank
    * runs over the drop's DISTINCT-KEY count frame (vocabulary-sized,
    * never raw rows); for unbounded key domains size k accordingly —
    * the artifact is k rows per group per drop.
    */
  def topkSegment(drop: DataFrame, dims: Seq[String], keyCol: String, k: Int): DataFrame = {
    require(k >= 1, "topkSegment: k must be >= 1")
    requireNoReserved(dims :+ keyCol, "topk", extra = Seq("cnt", "cutoff", "slack"))
    val cnts = drop.groupBy((dims :+ keyCol).map(col): _*).agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(dims.map(col): _*).orderBy(col("cnt").desc, col(keyCol))
    val ranked = cnts.withColumn("__rn", row_number().over(w))
    val kept = ranked.filter(col("__rn") <= k).drop("__rn")
    val cut = ranked.filter(col("__rn") > k)
      .groupBy(dims.map(col): _*).agg(max(col("cnt")).as("cutoff"))
    val joined =
      if (dims.isEmpty) kept.crossJoin(broadcast(cut)) // 0- or 1-row cutoff side
      else joinDimsNullSafe(kept, cut, dims, "left_outer")
    // groups where nothing was dropped (or a global empty cut side):
    // retention was lossless, cutoff 0. A fresh segment's retained
    // counts are exact, so their per-key upper-bound slack is 0 (the
    // column exists for compacted segments, whose counts are lower
    // bounds carrying their pre-fold slack).
    joined.withColumn("cutoff", coalesce(col("cutoff"), lit(0L)))
      .withColumn("slack", lit(0L))
  }

  def landTopKDrop(drop: DataFrame, dims: Seq[String], keyCol: String, k: Int,
                   path: String, dropId: String): Long = {
    val spark = drop.sparkSession
    Staged.land(spark, segDir(path, dropId), topkSegment(drop, dims, keyCol, k))
  }

  /** Merged per-key frequency bounds over every landed segment:
    * (dims..., key, n_est, n_hi) with n_est <= true count <= n_hi.
    * Reads k-rows-per-group segments, touches no raw data. The `seg`
    * partition column (from the `seg=<drop>` layout) identifies which
    * segments retained a key.
    */
  def serveTopK(spark: SparkSession, path: String, dims: Seq[String],
                keyCol: String): DataFrame = {
    val seg = spark.read.parquet(path)
    // one definition of the guarantee threshold: totalCutoff (serve and
    // compact must never disagree on it)
    val totCut = totalCutoff(spark, path, dims)
      .withColumnRenamed("total_cutoff", "__tot")
    val est = seg.groupBy((dims :+ keyCol).map(col): _*)
      .agg(sum(col("cnt")).as("n_est"), sum(col("cutoff")).as("__present"),
        sum(col("slack")).as("__slack"))
    val joined =
      if (dims.isEmpty) est.crossJoin(broadcast(totCut))
      else joinDimsNullSafe(est, totCut, dims)
    joined.select((dims :+ keyCol).map(col) :+ col("n_est") :+
      (col("n_est") + col("__slack") + col("__tot") - col("__present")).as("n_hi"): _*)
  }

  /** Sum of retention cutoffs across segments per dims group: the
    * guarantee threshold — every key whose true count exceeds it is
    * retained by at least one segment and therefore surfaces in
    * [[serveTopK]]. (dims..., total_cutoff); one row when dims is empty.
    */
  def totalCutoff(spark: SparkSession, path: String, dims: Seq[String]): DataFrame = {
    val perSeg = spark.read.parquet(path)
      .groupBy((dims :+ "seg").map(col): _*).agg(max(col("cutoff")).as("__c"))
    if (dims.isEmpty) perSeg.agg(sum(col("__c")).as("total_cutoff"))
    else perSeg.groupBy(dims.map(col): _*).agg(sum(col("__c")).as("total_cutoff"))
  }

  /** Fold a top-k tier's segments into one, preserving served bounds
    * EXACTLY for retained keys: the folded segment keeps the top-k keys
    * by merged n_est, each carrying cnt = n_est and slack = n_hi -
    * n_est (so a later serve reconstructs the same (n_est, n_hi)). The
    * folded group cutoff' must cover BOTH classes of non-retained key:
    * keys dropped at the fold (true <= their n_hi) and keys the
    * pre-fold segments never retained at all (true <= pre-fold summed
    * cutoffs) — so cutoff' = max(largest dropped n_hi, pre-fold total
    * cutoff). Taking only the dropped-n_hi max under-covered the
    * never-retained class and broke the surfacing guarantee (caught by
    * the compaction-point property test). Dropped keys' bounds widen to
    * [0, cutoff'] — the inherent Misra-Gries trade; the invariant
    * n_est <= true <= n_hi and the guarantee survive arbitrary
    * compaction points (property-tested).
    */
  def compactTopK(spark: SparkSession, path: String, dims: Seq[String],
                  keyCol: String, k: Int, dropId: String = "base"): Unit = {
    val served = serveTopK(spark, path, dims, keyCol)
    val preTot = totalCutoff(spark, path, dims)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(dims.map(col): _*).orderBy(col("n_est").desc, col(keyCol))
    val ranked = served.withColumn("__rn", row_number().over(w))
    val kept = ranked.filter(col("__rn") <= k)
      .select((dims :+ keyCol).map(col) :+ col("n_est").as("cnt") :+
        (col("n_hi") - col("n_est")).as("slack"): _*)
    val cut = ranked.filter(col("__rn") > k)
      .groupBy(dims.map(col): _*).agg(max(col("n_hi")).as("__dropped"))
    val withCut =
      if (dims.isEmpty) kept.crossJoin(broadcast(cut)).crossJoin(broadcast(preTot))
      else joinDimsNullSafe(
        joinDimsNullSafe(kept, cut, dims, "left_outer"), preTot, dims, "left_outer")
    Staged.swapRoot(spark, path,
      withCut.withColumn("cutoff",
          greatest(coalesce(col("__dropped"), lit(0L)),
            coalesce(col("total_cutoff"), lit(0L))))
        .drop("__dropped", "total_cutoff")
        .localCheckpoint(true),
      segName(dropId))
  }

  /** Lower-quantile estimate from a merged histogram: per dims, the
    * LOWER EDGE of the bucket holding the rank-ceil(n*num/den) value
    * (num/den e.g. 1/2 = the lower median). The true quantile value
    * lies inside that bucket, so `|est - exact| < width` whenever the
    * grid covers the data (rank never in the -1 / nBuckets overflow
    * buckets) — equivalently, est == exact - exact mod width, which is
    * what an oracle recomputes from the exact quantile. The window runs
    * over at most nBuckets+2 rows per group — never raw data.
    */
  def quantileFromHist(hist: DataFrame, dims: Seq[String], num: Int, den: Int,
                       lo: Long, width: Long): DataFrame = {
    require(num > 0 && den > 0 && num <= den, "quantile must be in (0, 1]")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(dims.map(col): _*).orderBy(col("bucket"))
    val tot = org.apache.spark.sql.expressions.Window.partitionBy(dims.map(col): _*)
    hist
      .withColumn("__cum", sum(col("n")).over(w))
      .withColumn("__k", ceil(sum(col("n")).over(tot) * num / den).cast("long"))
      .filter(col("__cum") - col("n") < col("__k") && col("__k") <= col("__cum"))
      .select(dims.map(col) :+ (lit(lo) + col("bucket") * width).as("est"): _*)
  }
}
