package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.util.sketch.BloomFilter

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
  * 800k — and the index scan is itself a distributed filter, so
  * nothing driver-side grows with the lake.
  *
  * Freshness is handled structurally, not by rebuild discipline: the
  * index records each file's length, and lookups treat data files that
  * are MISSING from the index or have a different length (new or
  * rewritten since the build) as unconditional candidates, while index
  * rows for vanished files are ignored. An index is therefore never
  * wrong after compaction/upsert — only less selective until rebuilt.
  *
  * The build is one `groupByKey(file).mapGroups` — typed per-group
  * aggregation (a maintenance job, not a query-surface UDF); each group
  * is exactly one file's keys, so memory is bounded by one right-sized
  * filter. Sidecars landed while every filter was sized for 2^20 keys
  * stay correct: refreshes carry their rows by (file, len) until those
  * files vanish, and [[build]] re-sizes every row.
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

  /** Bloom rows (file, bloom, nkeys) for the files `df` scans (a plain
    * scan of whole files) — one typed per-group fold, each group exactly
    * one file's keys. The task blooming a file sizes its filter from the
    * row count in that file's parquet footer: a file has at least as
    * many rows as keys, so each filter keeps [[Fpp]], and a group's
    * memory is that one filter.
    */
  private def bloomRows(df: DataFrame, keyCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val conf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    df.select(input_file_name().as("file"), col(keyCol).cast("string").as("k"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroups { (file, rows) =>
        val bf = BloomFilter.create(math.max(1L, footerRows(file, conf.value.value)), Fpp)
        var n = 0L
        rows.foreach { r => if (r._2 != null) bf.putString(r._2); n += 1 }
        (file, ser(bf), n)
      }
      .toDF("file", "bloom", "nkeys")
  }

  /** Row count in the parquet footer of `file` (an `input_file_name()`
    * URI, decoded as [[readablePaths]] does). Reads the footer only.
    */
  private def footerRows(file: String, conf: Configuration): Long = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(new java.net.URI(file)), conf))
    try reader.getRecordCount finally reader.close()
  }

  /** URI strings (Path.toUri.toString, the index's join key form) fed
    * back into spark.read would be re-parsed as PATH strings, double
    * percent-encoding any escaped character — a lake under '/my lake'
    * lists as 'my%20lake' and a naive read resolves a literal 'my%20lake'
    * dir. Route through java.net.URI so the read sees the decoded path.
    */
  private[lake] def readablePaths(uris: Seq[String]): Seq[String] =
    uris.map(u => new org.apache.hadoop.fs.Path(new java.net.URI(u)).toString)

  /** Build (or rebuild) the index sidecar: one row per data file with
    * the file's length and a bloom filter of its `keyCol` values, sized
    * from the file's row count.
    */
  def build(table: LakeTable, path: String, keyCol: String): Long = {
    val spark = table.read.sparkSession
    import spark.implicits._
    val perFile = bloomRows(table.read, keyCol)
    // join the current listing for each file's length (freshness token);
    // the listing is driver-side but only touches paths, never data
    val lens = fileLengths(spark, path).toSeq.toDF("file", "len")
    Staged.land(spark, sidecar(path), perFile.join(lens, "file"))
  }

  /** Incremental rebuild: bloom ONLY the files the index doesn't cover
    * (new, or length-changed — i.e. the churn since the last build),
    * keep the index rows of unchanged files as-is (their bloom bytes
    * never move, let alone get recomputed), drop rows for vanished
    * files. At 100 TB this makes index maintenance proportional to
    * write churn, not lake size — an ingest touching 1% of the buckets
    * re-blooms 1% of the files. Returns (keptRows, rebuiltRows).
    */
  def refresh(table: LakeTable, path: String, keyCol: String): (Long, Long) = {
    val spark = table.read.sparkSession
    import spark.implicits._
    val idxPath = new org.apache.hadoop.fs.Path(sidecar(path))
    val fs = idxPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(idxPath))
      return (0L, build(table, path, keyCol))
    val live = fileLengths(spark, path)
    val old = spark.read.parquet(idxPath.toString)
    val lens = live.toSeq.toDF("file", "len2")
    // unchanged rows: same path AND same length as the live listing
    val kept = old.join(lens, old("file") === lens("file") &&
        old("len") === lens("len2"))
      .select(old("file"), old("bloom"), old("nkeys"), old("len"))
    // churn = live files with NO unchanged index row, computed
    // CLUSTER-side (anti-join against the index) — only the churn-sized
    // path list ever reaches the driver, never an O(files) copy of the
    // index. (The live listing itself is the scan planner's own driver
    // file index — irreducible for a plain lake, see fileLengths.)
    val freshFiles = lens
      .join(old.select(col("file"), col("len").as("len2")), Seq("file", "len2"), "left_anti")
      .select(col("file")).as[String].collect().toSeq.sorted
    val rebuilt =
      if (freshFiles.isEmpty) kept.limit(0)
      else bloomRows(
        spark.read.option("basePath", path).schema(table.read.schema)
          .parquet(readablePaths(freshFiles): _*),
        keyCol)
        .join(live.toSeq.toDF("file", "len"), "file")
        .select(col("file"), col("bloom"), col("nkeys"), col("len"))
    // one staged landing: a crash leaves the old index, the new one, or
    // none — and "none" just means lookups fall back to a full scan,
    // never a wrong answer. (kept, rebuilt) are observed on that write,
    // so the churn bloom build runs once, unpersisted. Count the REBUILT
    // rows, not freshFiles: if the length join ever dropped a file on a
    // URI-form mismatch, the metric must say so
    ChurnSplit.landRows(spark, sidecar(path), kept, rebuilt)
  }

  /** Current data files (qualified URI -> length), resolved through
    * Spark's OWN file index — the exact enumeration the scan planner
    * performs (underscore/dot files skipped, partition dirs recursed),
    * including its parallel/distributed listing above
    * `spark.sql.sources.parallelPartitionDiscovery.threshold`. No
    * hand-rolled driver `listStatus` recursion: bloom maintenance lists
    * nothing a plain read of the table wouldn't. (The zero-listing tier
    * is the snapshot variant below, where the file list comes from
    * manifests; for plain LakeTables a listing is irreducible — there
    * is no transactional manifest to trust, and a stale one would make
    * lookups silently skip files.)
    */
  private def fileLengths(spark: SparkSession, path: String): Map[String, Long] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    spark.read.parquet(path).queryExecution.analyzed.collectFirst {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        lr.relation.asInstanceOf[HadoopFsRelation].location.listFiles(Nil, Nil)
          .flatMap(_.files).map(f => f.getPath.toUri.toString -> f.getLen).toMap
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
    val spark = table.read.sparkSession
    val live = fileLengths(spark, path)
    val idxPath = sidecar(path)
    val schema = table.read.schema
    val candidates = bloomCandidates(spark, idxPath, live, keys)
    val df =
      if (candidates.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      // basePath keeps partition columns derivable when the candidate
      // list names leaf files inside partition dirs
      else spark.read.option("basePath", path).schema(schema).parquet(readablePaths(candidates): _*)
        .filter(col(keyCol).cast("string").isin(keys: _*))
    (df, candidates.size)
  }

  /** The candidate-file pass shared by the directory and snapshot tiers:
    * one distributed scan evaluates might-contain next to the bloom
    * bytes; only (path, len, hit) triples reach the driver — bytes per
    * file, not the filters. A live file missing from the index
    * (or length-drifted) is an unconditional candidate — never a wrong
    * answer, only less selective.
    */
  private def bloomCandidates(spark: SparkSession, idxPath: String,
                              live: Map[String, Long], keys: Seq[String]): Seq[String] = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(idxPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(idxPath))) live.keys.toSeq
    else {
      val keyList = keys
      val idx = spark.read.parquet(idxPath)
        .select(col("file"), col("len"), col("bloom"))
        .as[(String, Long, Array[Byte])]
        .map { case (f, len, bloom) =>
          (f, len, keyList.exists(deser(bloom).mightContainString))
        }.collect()
      val byFile = idx.map { case (f, len, hit) => f -> (len, hit) }.toMap
      live.iterator.filter { case (f, len) =>
        byFile.get(f) match {
          case Some((l, hit)) if l == len => hit // unchanged: trust the filter
          case _ => true // new or rewritten since the build: scan it
        }
      }.map(_._1).toSeq
    }
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

  /** Manifest file list as (qualified URI -> length) — the same URI form
    * `input_file_name()` reports, so index rows join exactly. No fs
    * status calls: lengths come from the manifest.
    */
  private[lake] def manifestFiles(lake: SnapshotLake, m: SnapshotLake.Manifest): Map[String, Long] = {
    val root = new org.apache.hadoop.fs.Path(lake.path)
    val fs = root.getFileSystem(lake.spark.sparkContext.hadoopConfiguration)
    m.files.map(f =>
      fs.makeQualified(new org.apache.hadoop.fs.Path(lake.path, f.rel)).toUri.toString -> f.len)
      .toMap
  }

  /** Refresh the snapshot lake's bloom index: bloom only the data files
    * added since the last refresh, keep existing rows verbatim (files are
    * immutable — their bloom bytes never need recomputing), and retain a
    * row as long as ANY complete (non-vacuumed) version references its
    * file so time-travel lookups stay selective. Cost is proportional to
    * write churn, never lake size. Returns (keptRows, bloomedRows).
    */
  def refreshSnapshot(lake: SnapshotLake, keyCol: String): (Long, Long) = {
    val spark = lake.spark
    import spark.implicits._
    val versions = lake.completeVersions
    if (versions.isEmpty) return (0L, 0L)
    val manifests = versions.flatMap(lake.readManifest)
    // union of live files across every retained version: time travel to
    // any of them keeps a selective index; vacuumed files fall out
    val live: Map[String, Long] =
      manifests.foldLeft(Map.empty[String, Long])((acc, m) => acc ++ manifestFiles(lake, m))
    val schema = manifests.last.schema
    val idxPath = snapSidecar(lake.path)
    val fs = new org.apache.hadoop.fs.Path(idxPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idxExists = fs.exists(new org.apache.hadoop.fs.Path(idxPath))
    val lens = live.toSeq.toDF("file", "len2")
    val kept =
      if (!idxExists)
        spark.emptyDataset[(String, Array[Byte], Long, Long)]
          .toDF("file", "bloom", "nkeys", "len")
      else spark.read.parquet(idxPath).alias("old")
        .join(lens, col("old.file") === lens("file") && col("old.len") === lens("len2"))
        .select(col("old.file"), col("old.bloom"), col("old.nkeys"), col("old.len"))
    // churn computed cluster-side, like the directory tier: anti-join the
    // manifest-resolved live set against the index; only churn-sized
    // paths land on the driver
    val freshFiles =
      if (!idxExists) live.keys.toSeq.sorted
      else lens.join(
          spark.read.parquet(idxPath).select(col("file"), col("len").as("len2")),
          Seq("file", "len2"), "left_anti")
        .select(col("file")).as[String].collect().toSeq.sorted
    val rebuilt =
      if (freshFiles.isEmpty) kept.limit(0)
      else bloomRows(spark.read.schema(schema).parquet(readablePaths(freshFiles): _*), keyCol)
        .join(lens.withColumnRenamed("len2", "len"), "file")
        .select(col("file"), col("bloom"), col("nkeys"), col("len"))
    // (kept, rebuilt) observed on the one staged landing, as in [[refresh]]
    ChurnSplit.landRows(spark, idxPath, kept, rebuilt)
  }


  /** Point lookup against a committed snapshot version (default: the
    * newest): resolve the manifest, keep the bloom-candidate files, open
    * only those. Row-identical to `lake.readAt(v).filter(key isin keys)`;
    * returns (rows, filesOpened) so specs can observe the pruning.
    */
  def lookupSnapshot(lake: SnapshotLake, keyCol: String, keys: Seq[String],
                     at: Option[Long] = None): (DataFrame, Int) = {
    val spark = lake.spark
    val v = at.orElse(lake.latestVersion).getOrElse(
      throw new IllegalArgumentException(s"no snapshots at ${lake.path}"))
    val m = lake.readManifest(v).getOrElse(throw new IllegalArgumentException(
      s"no complete snapshot v$v at ${lake.path}"))
    val live = manifestFiles(lake, m)
    val candidates = bloomCandidates(spark, snapSidecar(lake.path), live, keys)
    val df =
      if (candidates.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
      else spark.read.schema(m.schema).parquet(readablePaths(candidates): _*)
        .filter(col(keyCol).cast("string").isin(keys: _*))
    (df, candidates.size)
  }
}
