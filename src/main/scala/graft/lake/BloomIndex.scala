package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.util.sketch.BloomFilter

import FileSidecar.LiveFile

/** Per-file bloom-filter index for key point-lookups on a parquet lake.
  *
  * The reference serves single-document reads from MongoDB's `_id`
  * index (reference: nextplib/ntp_entry.py `find_one({'_id': ...})`).
  * The lake's substitute for key-ranged scans is the bucket layout
  * (`bucket = hash(key) % nBuckets` prunes to one directory), but
  * WITHIN a bucket — or on an unpartitioned table — a point lookup
  * still opens every file, and parquet min/max footers are useless for
  * hash-distributed keys. A per-file bloom filter closes that gap: the
  * lookup scans the compact index (one row per data file), keeps the
  * files whose filter might contain the key, and opens only those.
  *
  * Scale math at 100 TB: ~800k files of 128 MB. Each file's filter is
  * sized from the row count in its own parquet footer at 0.1% fpp,
  * ~14.4 bits per row, so the index costs ~1.8 bytes per row of the
  * lake whatever the file sizes. A point lookup reads the index plus
  * (true files + fpp * 800k ≈ a few hundred) data files instead of
  * 800k.
  *
  * Rows are (file, bloom, nkeys, len) and follow [[FileSidecar]]'s
  * (file, len) rule: refreshes bloom only uncovered files and carry the
  * rest, and a file new or rewritten since the last refresh is always a
  * lookup candidate — an index is never wrong, only less selective.
  *
  * Blooming is one `groupByKey(file).mapGroups` — typed per-group
  * aggregation (a maintenance job, not a query-surface UDF); each group
  * is exactly one file's keys, so memory is bounded by one right-sized
  * filter. Sidecars landed while every filter was sized for 2^20 keys
  * stay correct: refreshes carry their rows until those files vanish,
  * and [[build]] re-sizes every row.
  */
object BloomIndex {

  private def sidecar(path: String) = path + ".bloomidx"

  private def ser(bf: BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }
  private def deser(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))

  /** False-positive rate of every filter. */
  private val Fpp = 0.001

  /** Sidecar rows (file, bloom, nkeys, len) for `files`, read by `src` (a
    * plain scan of exactly those files) — one typed per-group fold, each
    * group exactly one file's keys. The task blooming a file sizes its
    * filter from the row count in that file's parquet footer: a file has
    * at least as many rows as keys, so each filter keeps [[Fpp]], and a
    * group's memory is that one filter.
    */
  private def bloomRows(src: DataFrame, files: Seq[LiveFile], keyCol: String): DataFrame = {
    val spark = src.sparkSession
    import spark.implicits._
    if (files.isEmpty)
      return spark.emptyDataset[(String, Array[Byte], Long, Long)].toDF("file", "bloom", "nkeys", "len")
    val conf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    FileSidecar.keyed(
      src.select(input_file_name().as("file"), col(keyCol).cast("string").as("k"))
        .as[(String, String)]
        .groupByKey(_._1)
        .mapGroups { (file, rows) =>
          val bf = BloomFilter.create(math.max(1L, footerRows(file, conf.value.value)), Fpp)
          var n = 0L
          rows.foreach { r => if (r._2 != null) bf.putString(r._2); n += 1 }
          (file, ser(bf), n)
        }
        .toDF("file", "bloom", "nkeys"),
      files)
  }

  /** Row count in the parquet footer of `file` (an `input_file_name()`
    * URI). Reads the footer only.
    */
  private def footerRows(file: String, conf: Configuration): Long = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(new java.net.URI(file)), conf))
    try reader.getRecordCount finally reader.close()
  }

  /** True on a row whose filter might contain one of `keys`. */
  private def mightContain(keys: Seq[String]): org.apache.spark.sql.Column =
    udf((bloom: Array[Byte]) => keys.exists(deser(bloom).mightContainString)).apply(col("bloom"))

  /** Build (or rebuild) the index sidecar: one row per data file with
    * the file's length and a bloom filter of its `keyCol` values, sized
    * from the file's row count. A [[refresh]] that carries nothing.
    */
  def build(table: LakeTable, path: String, keyCol: String): Long =
    landDirectory(table, path, keyCol, carry = false)._2

  /** Incremental rebuild: bloom ONLY the files the index doesn't cover
    * (new, or length-changed — i.e. the churn since the last build),
    * keep the index rows of unchanged files as-is (their bloom bytes
    * never move, let alone get recomputed), drop rows for vanished
    * files. At 100 TB this makes index maintenance proportional to
    * write churn, not lake size — an ingest touching 1% of the buckets
    * re-blooms 1% of the files. Returns (keptRows, rebuiltRows).
    */
  def refresh(table: LakeTable, path: String, keyCol: String): (Long, Long) =
    landDirectory(table, path, keyCol, carry = true)

  private def landDirectory(table: LakeTable, path: String, keyCol: String,
                            carry: Boolean): (Long, Long) = {
    val df = table.read
    val spark = df.sparkSession
    val live = liveFiles(df, path)
    val fresh = if (carry) FileSidecar.uncovered(spark, sidecar(path), live) else live
    // when every file is fresh, the table's own scan reads them
    val src = if (fresh.size == live.size) df else FileSidecar.scan(spark, df.schema, path, fresh)
    FileSidecar.landCarried(sidecar(path), if (carry) live else Nil, bloomRows(src, fresh, keyCol))
  }

  /** The files a scan of `df` (a read of the table at `path`) opens,
    * resolved through Spark's OWN file index — the exact enumeration the
    * scan planner performs (underscore/dot files skipped, partition dirs
    * recursed), including its parallel/distributed listing above
    * `spark.sql.sources.parallelPartitionDiscovery.threshold`. No
    * hand-rolled driver `listStatus` recursion: bloom maintenance lists
    * nothing a plain read of the table wouldn't. (The zero-listing tier
    * is the snapshot variant below, where the file list comes from
    * manifests; for plain LakeTables a listing is irreducible — there
    * is no transactional manifest to trust, and a stale one would make
    * lookups silently skip files.)
    */
  private def liveFiles(df: DataFrame, path: String): Seq[LiveFile] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.analyzed.collectFirst {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        FileSidecar.ofListing(df.sparkSession, path,
          lr.relation.asInstanceOf[HadoopFsRelation].location.listFiles(Nil, Nil)
            .flatMap(_.files).map(f => (f.getPath, f.getLen)))
    }.getOrElse(throw new IllegalStateException(
      s"parquet scan at $path did not expose a file index"))
  }

  /** Point lookup: rows of the table whose `keyCol` is in `keys`,
    * reading only bloom-candidate files (plus any file newer than the
    * index). Returns (dataframe, filesOpened) so callers and specs can
    * observe the pruning; the result is row-identical to
    * `table.read.filter(keyCol isin keys)`.
    */
  def lookup(table: LakeTable, path: String, keyCol: String,
             keys: Seq[String]): (DataFrame, Int) = {
    val df = table.read
    FileSidecar.prunedScan(df.sparkSession, sidecar(path), path, df.schema, liveFiles(df, path),
      mightContain(keys), col(keyCol).cast("string").isin(keys: _*))
  }

  // ------------------------------------------------------------------
  // Snapshot-lake tier: the same index, resolved from MANIFESTS instead
  // of directory walks. Snapshot data files are immutable, so an index
  // row never goes stale — maintenance is purely additive (bloom the
  // files new since the last refresh, drop rows no retained version
  // references) and a point lookup works against ANY committed version,
  // not just the current directory state. This is the piece that makes
  // the 100 TB story hold end-to-end: no recursive listing anywhere —
  // read planning, index refresh and lookup are all manifest-resolved.
  // ------------------------------------------------------------------

  private[graft] def snapSidecar(path: String) = path + "/_bloomidx"

  /** Refresh the snapshot lake's bloom index: bloom only the data files
    * added since the last refresh, keep existing rows verbatim (files are
    * immutable — their bloom bytes never need recomputing), and retain a
    * row as long as ANY complete (non-vacuumed) version references its
    * file so time-travel lookups stay selective. Cost is proportional to
    * write churn, never lake size. Returns (keptRows, bloomedRows).
    */
  def refreshSnapshot(lake: SnapshotLake, keyCol: String): (Long, Long) =
    lake.retainedFiles.fold((0L, 0L)) { case (schema, files) =>
      val live = FileSidecar.ofManifest(lake, files)
      val fresh = FileSidecar.uncovered(lake.spark, snapSidecar(lake.path), live)
      FileSidecar.landCarried(snapSidecar(lake.path), live,
        bloomRows(FileSidecar.scan(lake.spark, schema, lake.path, fresh), fresh, keyCol))
    }

  /** Point lookup against a committed snapshot version (default: the
    * newest): resolve the manifest, keep the bloom-candidate files, open
    * only those. Row-identical to `lake.readAt(v).filter(key isin keys)`;
    * returns (rows, filesOpened) so specs can observe the pruning.
    */
  def lookupSnapshot(lake: SnapshotLake, keyCol: String, keys: Seq[String],
                     at: Option[Long] = None): (DataFrame, Int) = {
    val m = lake.resolve(at)
    FileSidecar.prunedScan(lake.spark, snapSidecar(lake.path), lake.path, m.schema,
      FileSidecar.ofManifest(lake, m.files), mightContain(keys),
      col(keyCol).cast("string").isin(keys: _*))
  }
}
