package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Per-file min/max (zone-map) sidecar for RANGE predicates over a
  * [[SnapshotLake]] — the range-scan sibling of [[BloomIndex]]'s
  * point-lookup tier (SURVEY §2.2; the reference answers bounded scans
  * through MongoDB's ordered primary index, reference:
  * nextplib/ntp_entry.py key-range `find()` — a parquet lake's
  * substitute is column statistics).
  *
  * Parquet footers already carry min/max per row group, and Spark
  * prunes row groups with them — but only AFTER opening every footer.
  * At a million files that is a million metadata reads per query. This
  * sidecar lifts one column's (min, max, counts) per FILE into a single
  * small parquet table resolved from the snapshot MANIFEST, so planning
  * a range scan is: read the sidecar, keep the files whose interval
  * overlaps the predicate, open exactly those. Combined with
  * [[SnapshotLake.cluster]] (sort-rewrite by the value column) or
  * [[Zorder]] keys, a selective range opens O(matching files), not
  * O(lake) — the data-skipping design Delta/Iceberg stats files use,
  * and the piece that makes bounded scans hold at 100 TB.
  *
  * Rows are (file, minv, maxv, nrows, nvals, len) and follow
  * [[FileSidecar]]'s (file, len) rule, like the bloom tier's: a refresh
  * computes stats for uncovered files only and carries the rest while
  * a retained version references them, and an uncovered file is always
  * a range-scan candidate.
  */
object ZoneMapIndex {

  /** One sidecar per (lake, column): the min/max columns keep the data
    * column's native type, which only stays consistent within a single
    * column's sidecar.
    */
  private[graft] def snapSidecar(lakePath: String, valCol: String) =
    s"$lakePath/_zonemap_$valCol"

  /** The sidecar's own schema claims these names, and `valCol` becomes a
    * path segment — reject collisions/path-unsafe names loudly instead
    * of producing a shadowed aggregate or a mangled sidecar dir (the
    * TimeJoins reserved-`__graft_bin` lesson applied here).
    */
  private def requireIndexable(valCol: String): Unit = {
    val reserved = Set("file", "len", "minv", "maxv", "nrows", "nvals")
    require(!reserved.contains(valCol),
      s"column '$valCol' collides with the zone-map sidecar schema ($reserved)")
    require(valCol.nonEmpty && valCol.forall(c => c.isLetterOrDigit || c == '_'),
      s"zone-map column name must be [A-Za-z0-9_]+ (it names the sidecar dir): '$valCol'")
  }

  /** Refresh the lake's zone-map sidecar for `valCol`: scan ONLY the
    * data files added since the last refresh (or all, on first build),
    * keep existing rows verbatim, retain a row while ANY complete
    * version references its file so time-travel range scans stay
    * selective. Cost is proportional to write churn, never lake size.
    * Returns (keptRows, scannedRows).
    */
  def refreshSnapshot(lake: SnapshotLake, valCol: String): (Long, Long) =
    refreshSnapshotMulti(lake, Seq(valCol))(valCol)

  /** Refresh SEVERAL columns' sidecars with ONE scan of the churn: at
    * 100 TB the fresh-file read IS the cost (the sidecar writes are
    * metadata-sized), so indexing k columns must not read the churn k
    * times. One grouped pass computes every column's per-file stats;
    * each column then lands its own sidecar (kept rows carried
    * verbatim, per-column — one column's sidecar may be fresher than
    * another's and each keeps its own diff). Returns per-column
    * (kept, scanned); scanned counts the union-churn files each column
    * took rows from.
    */
  def refreshSnapshotMulti(lake: SnapshotLake, valCols: Seq[String])
      : Map[String, (Long, Long)] = {
    require(valCols.nonEmpty && valCols.distinct == valCols,
      s"need distinct columns: $valCols")
    valCols.foreach(requireIndexable)
    val spark = lake.spark
    import spark.implicits._
    lake.retainedFiles.fold(valCols.map(_ -> (0L, 0L)).toMap) { case (schema, files) =>
      val live = FileSidecar.ofManifest(lake, files)
      // per-column churn (each sidecar carries its own freshness)
      val fresh = valCols.map(c =>
        c -> FileSidecar.uncovered(spark, snapSidecar(lake.path, c), live)).toMap
      val unionFresh = fresh.values.flatten.toSeq.distinct.sortBy(_.file)
      // ONE scan of the union churn computes EVERY column's stats
      val stats = FileSidecar.keyed(
        FileSidecar.scan(spark, schema, lake.path, unionFresh)
          .groupBy(input_file_name().as("file"))
          .agg(count(lit(1)).as("nrows"),
            valCols.flatMap(c => Seq(
              min(col(c)).as(s"minv_$c"), max(col(c)).as(s"maxv_$c"),
              count(col(c)).as(s"nvals_$c"))): _*),
        unionFresh).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = valCols.map { c =>
        // a column whose churn is the whole scanned set reads the stats as
        // is; a semi-join, not isin: a first build's churn is EVERY live
        // file and an In over 10^6 literals is a plan, not a filter
        val rows =
          if (fresh(c).size == unionFresh.size) stats
          else stats.join(fresh(c).map(_.file).toDF("file"), Seq("file"), "left_semi")
        c -> FileSidecar.landCarried(snapSidecar(lake.path, c), live,
          rows.select(col("file"), col(s"minv_$c").as("minv"), col(s"maxv_$c").as("maxv"),
            col("nrows"), col(s"nvals_$c").as("nvals"), col("len")))
      }.toMap
      stats.unpersist()
      out
    }
  }

  /** Metadata-only aggregate: (min_v, max_v, n_rows, n_vals) of `valCol`
    * over a committed version, answered ENTIRELY from the sidecar —
    * zero data files opened, whatever the lake's size. Per-file min/max
    * are exact, so their min/max IS the global extremum and the row
    * counts sum exactly (the lakehouse manifest-stats answer to
    * `SELECT min(x), max(x), count(*)`).
    *
    * Freshness contract differs from [[rangeLookupSnapshot]]: a range
    * scan can fall back to opening an unindexed file, but an aggregate
    * has no partial fallback short of the full scan the caller was
    * avoiding — so a live file without an unchanged sidecar row makes
    * this THROW (refresh first), never serve a silently-wrong number.
    */
  def aggregateFromStats(lake: SnapshotLake, valCol: String,
                         at: Option[Long] = None): DataFrame = {
    requireIndexable(valCol)
    val spark = lake.spark
    val m = lake.resolve(at)
    val live = FileSidecar.ofManifest(lake, m.files)
    val idxPath = snapSidecar(lake.path, valCol)
    val fs = new org.apache.hadoop.fs.Path(idxPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(idxPath)))
      throw new IllegalStateException(
        s"no zone-map sidecar for '$valCol' at ${lake.path} — build it first")
    val lens = FileSidecar.keys(spark, live)
    val idx = spark.read.parquet(idxPath)
    // coverage as ONE count over the join — the check stays cluster-side
    // next to the sidecar rows instead of materializing a per-file driver
    // map (live itself is manifest-resolved and driver-sized by contract).
    // Count AND countDistinct(file) must BOTH equal live.size: the raw
    // count alone lets a duplicated sidecar row offset a missing file
    // (1 dup + 1 stale → nMatched == live.size) and silently serve a
    // double-counted SUM, so duplicates and staleness are asserted
    // independently (still one metadata-sized aggregate)
    val matched = idx.join(lens, Seq("file", "len"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cov = matched.agg(count(lit(1)).as("n"),
      countDistinct(col("file")).as("nd")).head()
    val nMatched = cov.getLong(0)
    val nDistinct = cov.getLong(1)
    if (nMatched != live.size || nDistinct != live.size) {
      matched.unpersist()
      throw new IllegalStateException(
        s"zone-map sidecar matches $nMatched rows / $nDistinct distinct files " +
          s"of ${live.size} live files of v${m.version} (fewer distinct = stale, " +
          "rows > distinct = duplicate stats rows) — refresh/rebuild " +
          "before serving a metadata-only aggregate")
    }
    val out = matched
      .agg(min(col("minv")).as("min_v"), max(col("maxv")).as("max_v"),
        sum(col("nrows")).as("n_rows"), sum(col("nvals")).as("n_vals"))
      .localCheckpoint(true)
    matched.unpersist()
    out
  }

  /** Range scan against a committed snapshot version (default: the
    * newest): resolve the manifest, keep the files whose [minv, maxv]
    * interval overlaps [lo, hi] — plus any live file the sidecar does
    * not cover yet — open only those, re-apply the predicate. Row-
    * identical to `lake.readAt(v).filter(valCol between (lo, hi))`;
    * returns (rows, filesOpened) so specs can observe the pruning.
    *
    * `lo`/`hi` are literal Columns (`lit(...)`) so the comparison runs
    * in the value column's own type — no stringly-typed bound can
    * mis-order numerics.
    */
  def rangeLookupSnapshot(lake: SnapshotLake, valCol: String,
                          lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column,
                          at: Option[Long] = None): (DataFrame, Int) = {
    requireIndexable(valCol)
    val m = lake.resolve(at)
    val valType = m.schema(valCol).dataType
    FileSidecar.prunedScan(lake.spark, snapSidecar(lake.path, valCol), lake.path, m.schema,
      FileSidecar.ofManifest(lake, m.files),
      new StructType().add("minv", valType).add("maxv", valType),
      // an all-null file's (null, null) bounds give a NULL hit: pruned, as
      // a range never matches null values
      col("maxv") >= lo && col("minv") <= hi,
      col(valCol) >= lo && col(valCol) <= hi)
  }
}
