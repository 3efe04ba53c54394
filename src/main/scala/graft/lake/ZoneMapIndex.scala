package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * Maintenance contract (same as the bloom tier): snapshot data files
  * are immutable, so a zone row never goes stale — refresh computes
  * stats for the files added since the last refresh ONLY (anti-join,
  * churn-sized), carries every other row verbatim, and drops rows no
  * retained version references. A live file the sidecar doesn't cover
  * yet is an UNCONDITIONAL candidate: a lagging index costs
  * selectivity, never rows.
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
    val reserved = Set("file", "len", "len2", "minv", "maxv", "nrows", "nvals")
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
    val versions = lake.completeVersions
    if (versions.isEmpty) return valCols.map(_ -> (0L, 0L)).toMap
    val manifests = versions.flatMap(lake.readManifest)
    val live: Map[String, Long] =
      manifests.foldLeft(Map.empty[String, Long])((acc, m) =>
        acc ++ BloomIndex.manifestFiles(lake, m))
    val schema = manifests.last.schema
    val lens = live.toSeq.toDF("file", "len2")
    val fs = new org.apache.hadoop.fs.Path(lake.path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // per-column churn (each sidecar carries its own freshness)
    val perCol = valCols.map { c =>
      val idxPath = snapSidecar(lake.path, c)
      val idxExists = fs.exists(new org.apache.hadoop.fs.Path(idxPath))
      val fresh: Seq[String] =
        if (!idxExists) live.keys.toSeq.sorted
        else lens.join(
            spark.read.parquet(idxPath).select(col("file"), col("len").as("len2")),
            Seq("file", "len2"), "left_anti")
          .select(col("file")).as[String].collect().toSeq.sorted
      (c, idxExists, fresh)
    }
    val unionFresh = perCol.flatMap(_._3).distinct.sorted
    // ONE scan of the union churn computes EVERY column's stats
    val statsAll =
      if (unionFresh.isEmpty) null
      else {
        val src = spark.read.schema(schema)
          .parquet(BloomIndex.readablePaths(unionFresh): _*)
        src.groupBy(input_file_name().as("file"))
          .agg(count(lit(1)).as("nrows"),
            valCols.flatMap(c => Seq(
              min(col(c)).as(s"minv_$c"), max(col(c)).as(s"maxv_$c"),
              count(col(c)).as(s"nvals_$c"))): _*)
          .join(lens.withColumnRenamed("len2", "len"), "file")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
    val out = perCol.map { case (c, idxExists, fresh) =>
      val idxPath = snapSidecar(lake.path, c)
      val rebuilt =
        if (statsAll == null || fresh.isEmpty) null
        // a column whose churn is the whole scanned set reads the stats as is
        else (if (fresh.size == unionFresh.size) statsAll
          // semi-join, not isin: a first build's fresh list is EVERY live
          // file and an In over 10^6 literals is a plan, not a filter
          else statsAll.join(fresh.toDF("file"), Seq("file"), "left_semi"))
          .select(col("file"), col(s"minv_$c").as("minv"), col(s"maxv_$c").as("maxv"),
            col("nrows"), col(s"nvals_$c").as("nvals"), col("len"))
      val kept =
        if (!idxExists) null
        else spark.read.parquet(idxPath).alias("old")
          .join(lens, col("old.file") === lens("file") && col("old.len") === lens("len2"))
          .select(col("old.file"), col("old.minv"), col("old.maxv"),
            col("old.nrows"), col("old.nvals"), col("old.len"))
      (kept, rebuilt) match {
        case (null, null) => c -> (0L, 0L) // empty lake
        case (k, null) => c -> (Staged.land(spark, idxPath, k), 0L)
        case (k, r) => c -> ChurnSplit.landRows(spark, idxPath, Option(k).getOrElse(r.limit(0)), r)
      }
    }.toMap
    if (statsAll != null) statsAll.unpersist()
    out
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
    import spark.implicits._
    val v = at.orElse(lake.latestVersion).getOrElse(
      throw new IllegalArgumentException(s"no snapshots at ${lake.path}"))
    val m = lake.readManifest(v).getOrElse(throw new IllegalArgumentException(
      s"no complete snapshot v$v at ${lake.path}"))
    val live = BloomIndex.manifestFiles(lake, m)
    val idxPath = snapSidecar(lake.path, valCol)
    val fs = new org.apache.hadoop.fs.Path(idxPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(idxPath)))
      throw new IllegalStateException(
        s"no zone-map sidecar for '$valCol' at ${lake.path} — build it first")
    val lens = live.toSeq.toDF("file", "len")
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
          s"of ${live.size} live files of v$v (fewer distinct = stale, " +
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
    val spark = lake.spark
    import spark.implicits._
    val v = at.orElse(lake.latestVersion).getOrElse(
      throw new IllegalArgumentException(s"no snapshots at ${lake.path}"))
    val m = lake.readManifest(v).getOrElse(throw new IllegalArgumentException(
      s"no complete snapshot v$v at ${lake.path}"))
    val live = BloomIndex.manifestFiles(lake, m)
    val idxPath = snapSidecar(lake.path, valCol)
    val fs = new org.apache.hadoop.fs.Path(idxPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val candidates: Seq[String] =
      if (!fs.exists(new org.apache.hadoop.fs.Path(idxPath))) live.keys.toSeq.sorted
      else {
        // pruning decided CLUSTER-side next to the stats: join the
        // manifest-resolved live set against the sidecar and collect only
        // the CANDIDATE paths (selectivity-sized), never the full sidecar
        // — the serve path has no per-live-file driver map, so a 10^6-file
        // lake costs the driver only what the predicate keeps.
        // An all-null file carries (null, null) bounds; the overlap
        // predicate is then NULL and coalesce prunes it — a range never
        // matches null values, and decoding a NULL hit would otherwise
        // crash the whole scan (round-13 advice finding).
        val lens = live.toSeq.toDF("file", "len")
        lens.join(
            spark.read.parquet(idxPath)
              .select(col("file"), col("len"),
                coalesce(col("maxv") >= lo && col("minv") <= hi, lit(false)).as("__hit")),
            Seq("file", "len"), "left_outer")
          // uncovered (no sidecar row at this len) => unconditional
          // candidate: a lagging index costs selectivity, never rows.
          // distinct: a duplicate sidecar row must not read its file
          // twice (the pre-r14 per-file map was duplicate-immune; keep
          // that invariant on the join path)
          .filter(col("__hit").isNull || col("__hit"))
          .select(col("file")).distinct().as[String].collect().toSeq.sorted
      }
    val df =
      if (candidates.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
      else spark.read.schema(m.schema)
        .parquet(BloomIndex.readablePaths(candidates): _*)
        .filter(col(valCol) >= lo && col(valCol) <= hi)
    (df, candidates.size)
  }
}
