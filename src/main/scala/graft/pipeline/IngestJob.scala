package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{NtpIds, TimeFns}
import graft.lake.LakeTable
import graft.versions.{IdAssign, Versions}

/** The flagship composed job (SURVEY §3.1): one parquet drop -> renamed,
  * normalized, id-assigned, version-merged lake state.
  *
  * The reference processes this row-at-a-time with three network
  * round-trips per row (per-row find / merge / commit,
  * reference: read_parquet.py:85-123). Here the whole drop is one Spark
  * job: rename is plan-time metadata, id assignment is one
  * range-partitioned pass, version resolution is one window over the
  * natural key, and the lake upsert is one anti-join rewrite — a fixed
  * number of shuffles regardless of drop size.
  *
  * Incremental semantics preserved (§2.10): the id watermark is the max
  * existing order per group (A1); re-delivered versions whose `updated`
  * overlaps an active version merge into it rather than spawning a new
  * version (J2/F21).
  */
object IngestJob {

  /** Columns that are version-machinery, not record data. */
  private val controlCols = Set("updated_arr", "updated_key", "obsolete_version", "updated_to", "_id")

  /** J2/F21 overlap-merge classification (reference: read_parquet.py:91-118
    * `exists_update` branch; ntp_utils.py:151-165): split incoming
    * normalized rows into re-deliveries of an existing ACTIVE version
    * (`updated` timeline overlap → merge into it, `_id` stable) and
    * genuinely new versions.
    *
    * Returns (mergedActives, fresh, patches):
    *  - mergedActives: the absorbed active rows — same `_id`, timeline =
    *    `mergeUpdates(active, incoming)`, data fields by F19 precedence
    *    (non-empty new wins, an empty new value never erases);
    *  - fresh: incoming rows with no overlapping active (need new ids);
    *  - patches: one row per merged active with the F18 field diff
    *    ({added, modified, missing}) of new vs old — the reference's
    *    patch record (ntp_entry.py:30-46, OLD/process_place.py:115-157).
    *
    * Set-level: ONE shuffle on the natural key classifies every incoming
    * row (vs the reference's per-row find round-trip); when several
    * incoming rows overlap the same active (a multi-timestamp
    * re-delivery), field precedence takes the content-deterministic
    * latest (max updated_key, ties by field values) — no driver loops.
    */
  def overlapMerge(actives: DataFrame, incoming: DataFrame, naturalId: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val dataCols = incoming.columns.filterNot(c => controlCols(c) || c == naturalId).toSeq
    val sharedData = dataCols.filter(actives.columns.contains)
    val actKey = actives.select(col(naturalId).as("__ank"), col("_id").as("__aid"),
      col("updated_arr").as("__aarr"))

    // coalesce(.., false): arrays_overlap returns SQL NULL when either
    // timeline still contains a null (legacy rows written before
    // toUpdatesArray compacted them away) -- and a NULL overlap would
    // drop the row from BOTH branches below (neither merged nor fresh:
    // silently lost). Unprovable overlap classifies as fresh.
    // The checkpoint materializes the classification ONCE: the patch
    // append, the fresh count and the staging write otherwise each
    // re-run the scan+join (and the fold tie-break could choose
    // per-action).
    val cls = incoming.join(actKey, col(naturalId) === col("__ank"), "left_outer")
      .withColumn("__overlap",
        col("__aid").isNotNull &&
          coalesce(TimeFns.updatesOverlap(col("updated_arr"), col("__aarr")), lit(false)))
      .localCheckpoint(true)
    val fresh = cls.filter(!col("__overlap")).drop("__ank", "__aid", "__aarr", "__overlap")

    // fold all overlapping re-deliveries per active: union the timelines,
    // pick the latest incoming row's fields (content-deterministic order)
    // \u0001-separated with a \u0000 null sentinel: a TOTAL order on
    // the value tuple. concat_ws alone SKIPS nulls, so (null, "x") and
    // ("x", null) would collide and max_by could pick either.
    val ord = concat_ws("\u0001",
      (col("updated_key") +: dataCols.map(c => col(c).cast("string")))
        .map(c => coalesce(c, lit("\u0000"))): _*)
    val folded = cls.filter(col("__overlap"))
      .groupBy(col("__aid").as("_id"))
      .agg(
        array_sort(array_distinct(flatten(collect_list(col("updated_arr"))))).as("__inc_arr"),
        max_by(struct(dataCols.map(col): _*), ord).as("__new"))

    def newWins(c: String): Column = {
      val n = col("__new").getField(c)
      val o = actives.schema(c).dataType match {
        case org.apache.spark.sql.types.StringType =>
          when(n.isNull || n === "", col(c)).otherwise(n)
        case _ => coalesce(n, col(c))
      }
      o.as(c)
    }
    val joined = actives.join(folded, Seq("_id"))
    val merged = joined.select(
      actives.columns.toSeq.map {
        case c if sharedData.contains(c) => newWins(c)
        case "updated_arr" => TimeFns.mergeUpdates(col("updated_arr"), col("__inc_arr")).as("updated_arr")
        case "updated_key" =>
          element_at(TimeFns.mergeUpdates(col("updated_arr"), col("__inc_arr")), -1).as("updated_key")
        case c => col(c)
      }: _*)
    val patches = joined.select(col("_id"), col(naturalId),
      Versions.diffFields(col("__new"),
        struct(sharedData.map(col): _*), sharedData).as("diff"))
      .select(col("_id"), col(naturalId),
        col("diff.added").as("added"), col("diff.modified").as("modified"))
    (merged, fresh, patches)
  }

  /** Ingest one drop into the lake table.
    *
    * @param drop      raw upstream rows (upstream column names)
    * @param codes     ORIGINAL -> DBFIELD mapping (S3)
    * @param naturalId upstream natural-key column (the PLACE URL `id`)
    * @param updated   upstream version-timestamp column
    * @param group     0 (insiders/outsiders) or 1 (minors) — selects the
    *                  id sub-space (ntp_constants MIN_ORDER semantics)
    */
  /** The partitioned-lake layout this job understands: `grp` (the id
    * sub-space, mirroring the reference's ntp0/ntp1 split) + `bucket`
    * (a hash bucket of the natural key). Both are derivable from the
    * row, so they are recomputed on write and pruned on read.
    */
  val LakePartitionCols: Seq[String] = Seq("grp", "bucket")

  /** Per-group id-watermark sidecar (`next.<group> = <next order>`).
    * The watermark scan (max `_id` of the group) is the one per-drop cost
    * proportional to lake size in an otherwise touched-bucket-
    * proportional path — at 100 TB it reads every file of `grp=0` (one
    * column) on every incremental drop. The sidecar persists the next
    * order instead; the scan remains as the fallback when the sidecar is
    * absent (new lake, crash before the first sidecar commit, or a
    * truncate/replace that dropped it).
    *
    * Crash protocol: the sidecar is committed BEFORE the land with the
    * post-land value (`watermark + nFresh`), so there is no window where
    * it under-states the ids actually on disk — a crash between commit
    * and land leaves a harmless id gap, never a duplicate. IngestJob is
    * the id issuer: writers adding `_id`s through other paths must drop
    * the sidecar (truncate does) or keep it current.
    */
  val WatermarkSidecar = "_graft_watermarks"

  def run(spark: SparkSession, lake: LakeTable, drop: DataFrame,
          codes: Map[String, String], naturalId: String, updated: String,
          group: Int): Unit = lake.locked {
    val partitioned = lake.partitionCols == LakePartitionCols
    def bucketOf(c: Column): Column = pmod(hash(c), lit(lake.nBuckets))
    // 1. parse_parquet normalization (plan-time only): rename via codes,
    //    merge collisions to arrays, parse string-encoded lists, unwrap
    //    singles, null->'', unknown columns -> `extra` residue map. The
    //    key + version columns are always identity-known: the pipeline
    //    cannot run with them hidden in the residue.
    val renamed = graft.ingest.Normalize.normalizeDrop(drop,
      codes ++ Seq(naturalId, updated).filterNot(codes.contains).map(c => c -> c))

    // 2. normalize: canonical 19-char updated timeline. A MISSING
    // timestamp (null upstream, or the '' that nullToEmpty mapped it to)
    // becomes the EMPTY timeline — the row ingests as fresh with no
    // version anchor. Without the blank guard, ANSI casts abort the whole
    // drop on ''; genuinely malformed non-blank strings still fail loudly
    // there, which is the correct posture for corrupt data.
    val updatedOrNull = when(trim(col(updated).cast("string")) === "", lit(null))
      .otherwise(col(updated))
    val normalized = renamed
      .withColumn("updated_arr", TimeFns.toUpdatesArray(updatedOrNull))
      // try_: the empty timeline has no last element (ANSI element_at
      // throws); a null updated_key sorts below every real timestamp in
      // the fold's tie-break sentinel, which is the right precedence
      .withColumn("updated_key", try_element_at(col("updated_arr"), lit(-1)))

    // 3. id watermark per group (A1): continue the sequence. With the
    //    partitioned layout the group filter hits the `grp` partition
    //    column — partition pruning reads only that sub-space's files
    //    (and parquet column pruning reads only `_id`).
    require(group >= 0 && group <= 9,
      s"group must be a single leading digit of the 8-digit id space: $group")
    val base = group.toLong * NtpIds.MinOrderMinors
    val groupPred =
      if (partitioned) col("grp") === group else NtpIds.group(col("_id")) === group
    // sidecar first (a few bytes), group-pruned column scan as fallback
    val sidecarNext: Option[Long] =
      if (partitioned && lake.exists)
        lake.readProps(WatermarkSidecar).get(s"next.$group").map(_.toLong)
      else None
    val watermark: Long = sidecarNext.getOrElse(
      if (lake.exists)
        lake.read.filter(groupPred)
          .agg(max(NtpIds.parseNtpId(col("_id")))).collect().head match {
          case r if r.isNullAt(0) => base
          case r => r.getLong(0) + 1
        }
      else base)

    // Partition scope: a drop only ever touches the buckets its natural
    // keys hash to — every version of a key shares its bucket, so
    // restricting the merge/anti-join/union to those buckets is
    // semantically complete. Untouched buckets are never read OR
    // rewritten: at 100 TB a drop touching 1% of keys moves ~1% of the
    // lake instead of all of it.
    val scoped: DataFrame =
      if (!lake.exists) null
      else if (partitioned) {
        val touched = normalized.select(bucketOf(col(naturalId)).as("b"))
          .distinct().collect().map(_.getInt(0)).toSeq
        // grp prunes for free alongside the bucket scope: without it a
        // group-g drop reads AND byte-identically rewrites the OTHER
        // group's co-bucketed partitions (2x read/write amplification,
        // churned files invalidating their bloom sidecar entries). Group
        // id sub-spaces are disjoint by construction, so the merge never
        // needs the other group's actives.
        lake.read.filter(col("grp") === group && col("bucket").isin(touched: _*))
          .drop("grp", "bucket")
      } else lake.read

    // 4. J2/F21 overlap-merge against existing actives: a re-delivered row
    //    whose timeline overlaps the active IS that version — it merges in
    //    (id stable, timelines unioned, F19 field precedence) and lands an
    //    F18 patch record. Only genuinely-new rows proceed to id
    //    assignment, so re-ingesting the same drop is idempotent (no id
    //    churn, no tombstone growth).
    val (mergedActives, fresh, patches) =
      if (lake.exists)
        overlapMerge(scoped.filter(col("obsolete_version").isNull), normalized, naturalId)
      else (null: DataFrame, normalized, null: DataFrame)

    // 5. assign contiguous ids in natural-key order (W1) — fresh rows only;
    //    the numbering's partition counts also give the fresh-row count
    val (numbered, nFresh) = IdAssign.assignSequential(fresh, naturalId, watermark)
    val withIds = numbered
      .withColumn("_id", NtpIds.setNtpId(col("seq"))).drop("seq")
      .withColumn("obsolete_version", lit(null).cast("boolean"))
      .withColumn("updated_to", lit(null).cast("string"))
    val all =
      if (lake.exists) {
        val untouched = scoped.filter(col("obsolete_version").isNull)
          .join(mergedActives.select(col("_id").as("__mid")), col("_id") === col("__mid"), "left_anti")
        untouched.unionByName(mergedActives, allowMissingColumns = true)
          .unionByName(withIds, allowMissingColumns = true)
      } else withIds
    val active = Versions.resolveLatest(all, naturalId, "_id", "updated_key")
    val tombstones = Versions.tombstones(all, naturalId, "_id", "updated_key")

    // 6. land: active rows + new tombstones + carried-forward prior
    //    tombstones (their updated_to pointers may now be one hop stale —
    //    chain resolution (J3, Versions.resolveChains) follows them to the
    //    current active, mirroring the reference's follow_version). In
    //    partitioned mode only the touched buckets are in scope; prior
    //    tombstones in untouched buckets stay physically in place.
    val state0 = active
      .unionByName(
        tombstones.withColumn("updated_arr", lit(null).cast("array<string>"))
          .withColumn("updated_key", lit(null).cast("string")),
        allowMissingColumns = true)
    val state =
      if (lake.exists)
        state0.unionByName(scoped.filter(col("obsolete_version") === true),
          allowMissingColumns = true)
      else state0

    // materialize the patch rows BEFORE the land (their plan reads the
    // pre-swap lake files, which replace() deletes) but APPEND them only
    // after the land succeeds: append-then-land meant a failed land left
    // phantom patch rows that the retry appended AGAIN — permanent
    // duplicates in the F18 history. A crash in the tiny window between
    // land and append loses that drop's diff records instead, which a
    // retry cannot double-count (the re-merge diffs as empty).
    val patchesM =
      if (patches == null) null
      else patches.filter(size(col("added")) > 0 || size(col("modified")) > 0)
        .localCheckpoint(true)
    // id-space guard (W1/F1): group g owns orders [g*10M, (g+1)*10M).
    // Crossing the ceiling would not fail — setNtpId formats 9 digits,
    // NtpIds.group reclassifies the row into the NEXT group, and the
    // other group's watermark scan then collides with it. Refuse loudly.
    require(watermark + nFresh <= (group + 1L) * NtpIds.MinOrderMinors,
      s"id space exhausted for group $group: watermark $watermark + $nFresh fresh ids " +
        s"would cross ${(group + 1L) * NtpIds.MinOrderMinors}")
    if (partitioned) {
      // partition values are derived from the row itself (never from the
      // scan), so rows land in the right directory no matter which path
      // produced them
      val stateP = state
        .withColumn("grp", NtpIds.group(col("_id")))
        .withColumn("bucket", bucketOf(col(naturalId)))
      // commit the advanced watermark (nFresh came off the numbering's
      // partition counts; no extra job). Pre-land for an existing
      // lake (see WatermarkSidecar's crash protocol); post-land for a
      // brand-new one (writing the sidecar first would materialize the
      // table dir early and break the exists-checks in the land path).
      val next = s"next.$group" -> (watermark + nFresh).toString
      if (lake.exists) {
        lake.writeProps(WatermarkSidecar, lake.readProps(WatermarkSidecar) + next)
        lake.overwritePartitions(stateP) // touched buckets only
      } else {
        lake.overwritePartitions(stateP)
        lake.writeProps(WatermarkSidecar, Map(next))
      }
    } else
      lake.replace(state) // state reads the current lake — staged swap, not in-place overwrite
    if (patchesM != null) lake.appendPatches(patchesM)
  }

  /** calc_summary (SURVEY §3.3 footnote, A2/K8): one GROUPING SETS pass
    * over the configured dimensions instead of 6 sequential aggregations.
    */
  def summarize(spark: SparkSession, records: DataFrame, dims: Seq[String]): DataFrame = {
    records.createOrReplaceTempView("summary_in")
    val sets = dims.map(d => s"($d)").mkString(", ")
    val coalesced = dims.map(d => s"coalesce(CAST($d AS STRING), '(all)') AS $d").mkString(", ")
    spark.sql(
      s"""SELECT $coalesced, count(*) AS n
         |FROM summary_in
         |GROUP BY GROUPING SETS ($sets, ())""".stripMargin)
  }
}
