package graft.lake

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** Range scans and min/max/count aggregates over a [[SnapshotLake]],
  * served from the per-file column stats in its manifest (SURVEY §2.2;
  * the reference answers bounded scans through MongoDB's ordered primary
  * index, reference: nextplib/ntp_entry.py key-range `find()` — a parquet
  * lake's substitute is column statistics).
  *
  * Spark prunes row groups by their footer min/max only AFTER opening
  * every footer. Each commit instead lifts its new files' footer stats
  * into their manifest entries ([[FileStats]]), so a range scan resolves
  * the manifest and opens only the files whose interval overlaps the
  * predicate; with [[SnapshotLake.cluster]] or [[Zorder]] keys that is
  * O(matching files), not O(lake) — the data skipping Delta and Iceberg
  * keep in their commit logs. The stats never lag the version that lists
  * the file, and each version, time travel included, prunes with its
  * own. A file without stats for the column is always a range candidate.
  */
object ZoneMapIndex {

  /** The stats of `valCol` in the files of `m` that have them, as a local
    * frame (file, minv, maxv, rows, nulls) with the bounds in the
    * column's own type (null for an all-null file), and those files.
    */
  private def zones(lake: SnapshotLake, m: SnapshotLake.Manifest,
                    valCol: String): (DataFrame, Set[String]) = {
    val t = m.schema(valCol).dataType
    val rows = for (f <- m.files; s <- f.stats; c <- s.cols.get(valCol))
      yield Row(f.rel, c.bounds.map(_._1).orNull, c.bounds.map(_._2).orNull, s.rows, c.nulls)
    val text = lake.spark.createDataFrame(rows.asJava, new StructType().add("file", StringType)
      .add("lo", StringType).add("hi", StringType).add("rows", LongType).add("nulls", LongType))
    (text.select(col("file"), FileStats.typed(t, col("lo")).as("minv"),
      FileStats.typed(t, col("hi")).as("maxv"), col("rows"), col("nulls")),
      rows.map(_.getString(0)).toSet)
  }

  /** Metadata-only aggregate: (min_v, max_v, n_rows, n_vals) of `valCol`
    * over a committed version, folded over its manifest's stats — zero
    * data files opened, whatever the lake's size. Per-file min/max are
    * exact, so their min/max IS the global extremum and the row counts
    * sum exactly (the lakehouse manifest-stats answer to
    * `SELECT min(x), max(x), count(*)`).
    *
    * A range scan can fall back to opening a file without stats, but an
    * aggregate has no partial fallback short of the full scan the caller
    * was avoiding — so a live file without stats for `valCol` makes this
    * THROW, never serve a silently-wrong number.
    */
  def aggregateFromStats(lake: SnapshotLake, valCol: String,
                         at: Option[Long] = None): DataFrame = {
    val m = lake.resolve(at)
    val (z, covered) = zones(lake, m, valCol)
    if (covered.size != m.files.size)
      throw new IllegalStateException(s"${m.files.size - covered.size} of ${m.files.size} " +
        s"live files of v${m.version} at ${lake.path} have no stats for '$valCol'; " +
        "a metadata-only aggregate needs every file's")
    z.agg(min(col("minv")).as("min_v"), max(col("maxv")).as("max_v"),
      sum(col("rows")).as("n_rows"), sum(col("rows") - col("nulls")).as("n_vals"))
  }

  /** Range scan against a committed snapshot version (default: the
    * newest): resolve the manifest, keep the files whose [min, max]
    * interval overlaps [lo, hi] — plus any live file without stats for
    * `valCol` — open only those, re-apply the predicate. Row-identical to
    * `lake.readAt(v).filter(valCol between (lo, hi))`; returns (rows,
    * filesOpened) so specs can observe the pruning.
    *
    * `lo`/`hi` are literal Columns (`lit(...)`) so the comparison runs
    * in the value column's own type. It runs over the local frame of
    * stats, so choosing the candidates runs no Spark job.
    */
  def rangeLookupSnapshot(lake: SnapshotLake, valCol: String, lo: Column, hi: Column,
                          at: Option[Long] = None): (DataFrame, Int) = {
    val m = lake.resolve(at)
    val (z, covered) = zones(lake, m, valCol)
    // an all-null file's (null, null) bounds give a NULL overlap: pruned,
    // as a range never matches null values
    val hits = z.filter(col("maxv") >= lo && col("minv") <= hi).select("file")
      .collect().map(_.getString(0)).toSet
    val candidates = m.files.filter(f => hits(f.rel) || !covered(f.rel))
    (lake.scan(m.schema, candidates).filter(col(valCol) >= lo && col(valCol) <= hi),
      candidates.size)
  }
}
