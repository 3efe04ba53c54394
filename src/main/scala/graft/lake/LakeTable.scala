package graft.lake

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-lake table with upsert semantics (SURVEY §2.2 K1-K3, K8).
  *
  * The reference upserts row-at-a-time into MongoDB
  * (`replace_one({_id}, data, upsert=True)` — reference:
  * nextplib/ntp_entry.py:71-93). On a parquet lake with no transaction-log
  * format available, the faithful set-level equivalent is
  * **merge-by-rewrite**: `existing ∖ updates (anti join) ∪ updates`,
  * written to a staging path and atomically swapped. All heavy lifting is
  * one anti join — a single hash shuffle on the key.
  *
  * Scale notes: at 100 TB the rewrite must be partition-scoped — tables
  * are laid out partitioned by the id group (`grp=0/1`, mirroring the
  * reference's ntp0/ntp1 id-space split), so an upsert touching one group
  * rewrites only that partition's files. Dynamic partition overwrite
  * does exactly that.
  */
class LakeTable(spark: SparkSession, path: String, keyCol: String,
                val partitionCols: Seq[String] = Nil, val nBuckets: Int = 1024,
                val leaseStaleMs: Long = 60L * 60 * 1000) {

  def exists: Boolean =
    new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(path))

  /** Every lake read is pinned to the PERSISTED table schema when one
    * exists. A partition-scoped land can put a newly-evolved column into
    * its touched buckets only; the lake's footers then disagree, and a
    * plain `spark.read.parquet` samples ONE footer — whether the new
    * column is visible would depend on file enumeration order. Pinning
    * makes reads deterministic: evolved columns are always present, null
    * for rows whose files predate them (parquet fills missing columns
    * with null).
    */
  def read: DataFrame = persistedSchema match {
    case Some(s) => spark.read.schema(s).parquet(path)
    case None => spark.read.parquet(path) // pre-sidecar lake: unchanged behavior
  }

  /** K3: truncate-and-load. */
  def overwrite(df: DataFrame): Unit = withLease {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
    writeLayoutMarker()
    writeSchemaFile(new org.apache.hadoop.fs.Path(path), df.schema) // truncate resets the schema
  }

  /** The evolving table schema, persisted as an underscore-prefixed JSON
    * sidecar (`StructType.json`) Spark readers ignore as data. Updated on
    * every write; reads pin to it (see `read`).
    */
  private val schemaMarker = "_graft_schema"
  private def writeSchemaFile(dir: org.apache.hadoop.fs.Path,
                              schema: org.apache.spark.sql.types.StructType): Unit =
    atomicWrite(new org.apache.hadoop.fs.Path(dir, schemaMarker), schema.json)
  def persistedSchema: Option[org.apache.spark.sql.types.StructType] = {
    val p = new org.apache.hadoop.fs.Path(path, schemaMarker)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try org.apache.commons.io.IOUtils.toString(in,
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      Some(org.apache.spark.sql.types.DataType.fromJson(text)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    }
  }

  /** Union the persisted schema with a batch's schema: existing fields
    * keep their position and type (type stability wins over widening),
    * genuinely new fields append as nullable. For a pre-sidecar lake the
    * base is a one-time mergeSchema footer scan.
    */
  private def unionSchema(newSchema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val base = persistedSchema.getOrElse(
      if (exists) spark.read.option("mergeSchema", true).parquet(path).schema
      else new org.apache.spark.sql.types.StructType())
    val known = base.map(_.name).toSet
    org.apache.spark.sql.types.StructType(
      base ++ newSchema.filterNot(f => known(f.name)).map(_.copy(nullable = true)))
  }

  /** The physical-layout contract, persisted as an underscore-prefixed
    * marker file Spark readers ignore. `bucket = hash(key) % nBuckets` is
    * only meaningful if every writer uses the SAME modulus: a writer with
    * a different nBuckets would look for re-delivered keys in the wrong
    * bucket, classify them as fresh, and silently duplicate active
    * versions. The marker makes the layout self-describing —
    * `LakeTable.layoutOf` lets callers (the CLI does) reconstruct the
    * right configuration, and `overwritePartitions` refuses to write
    * incrementally under a mismatched one.
    */
  private val layoutMarker = "_graft_layout"
  private def writeLayoutMarker(): Unit = if (partitionCols.nonEmpty)
    writeLayoutMarkerTo(new org.apache.hadoop.fs.Path(path))
  private def writeLayoutMarkerTo(dir: org.apache.hadoop.fs.Path): Unit =
    atomicWrite(new org.apache.hadoop.fs.Path(dir, layoutMarker),
      s"partitionCols=${partitionCols.mkString(",")}\nnBuckets=$nBuckets\n")

  /** Shared partition-dir walk + data-file filter for the maintenance
    * views (stats) and the maintenance planner (compact): one definition
    * so the operator's numbers and the planner's decisions can never
    * disagree. Skips metadata/scratch names (underscore AND dot) at both
    * the dir and the file level — a crashed write's `_temporary` dir has
    * no `col=value` segment, and a dotted sidecar tmp is not data.
    */
  private def isDataFile(st: org.apache.hadoop.fs.FileStatus): Boolean =
    st.isFile && !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith(".")
  private def leafDataDirs(root: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
    def isDataDir(n: String) = !n.startsWith("_") && !n.startsWith(".") && n.contains("=")
    def walk(p: org.apache.hadoop.fs.Path, depth: Int): Seq[org.apache.hadoop.fs.Path] =
      if (depth == 0) Seq(p)
      else fs.listStatus(p).filter(s => s.isDirectory && isDataDir(s.getPath.getName))
        .map(_.getPath).flatMap(walk(_, depth - 1)).toSeq
    walk(root, partitionCols.length)
  }

  /** Write a small marker/sidecar file atomically: full content to a
    * dotted temp sibling, then delete-and-rename into place. A crash
    * leaves the old content, the new content, or no file (every caller
    * treats a missing sidecar as "recompute") — never a TRUNCATED file,
    * whose parse would be silently wrong (e.g. a watermark missing its
    * last digit under-states the next id and re-issues it).
    */
  private def atomicWrite(dest: org.apache.hadoop.fs.Path, content: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(dest.getParent, "." + dest.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(dest, false)
    // an unchecked false here silently keeps the OLD sidecar content —
    // for the watermark sidecar that is exactly the re-issued-ids bug
    // this write protocol exists to prevent
    if (!fs.rename(tmp, dest))
      throw new java.io.IOException(s"atomic sidecar swap failed: rename $tmp -> $dest")
  }
  private def requireLayoutMatch(): Unit =
    LakeTable.layoutOf(spark, path).foreach { case (pc, nb) =>
      if (pc != partitionCols || nb != nBuckets)
        throw new IllegalStateException(
          s"lake at $path is laid out as (partitionCols=$pc, nBuckets=$nb) but this " +
            s"writer was configured with (partitionCols=$partitionCols, nBuckets=$nBuckets); " +
            "an incremental write under a mismatched bucket modulus would corrupt the merge")
    }

  private def fs: org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Single-writer lease around the mutation window. `replace`,
    * `overwritePartitions`, and `compact` all assume one writer: two
    * jobs racing the stage/rename/land sequence can interleave (one's
    * `recover()` re-landing the other's half-staged work). The lease is
    * a fail-fast guard, not a distributed lock manager: a sibling
    * `.lease` file created with create-if-absent; a second writer fails
    * immediately with a clear error instead of corrupting the lake. A
    * lease older than `leaseStaleMs` (crashed writer) is broken and
    * taken over — size `leaseStaleMs` above the longest expected
    * mutation. Reentrant within one LakeTable instance (compact lands
    * through overwritePartitions under the same lease). On an object
    * store, swap the create-if-absent for a conditional put.
    */
  /** Run `body` under this table's writer lease. Jobs whose correctness
    * spans a read-compute-land cycle (ingest reads the watermark and the
    * scoped buckets BEFORE landing; repair reads the stale set) hold the
    * lease across the whole cycle, not just the land — two concurrent
    * ingests would otherwise both read the same watermark and assign
    * colliding ids. Reentrant: the inner land acquires nothing new.
    */
  def locked[T](body: => T): T = withLease(body)

  private var leaseHeld = false
  private def withLease[T](body: => T): T = {
    if (leaseHeld) return body
    val lp = new org.apache.hadoop.fs.Path(path + ".lease")
    def tryAcquire(): Boolean =
      try {
        val out = fs.create(lp, false)
        try out.write(s"pid=${ProcessHandle.current().pid()}\nat=${System.currentTimeMillis()}\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (!tryAcquire()) {
      val mtime =
        try Some(fs.getFileStatus(lp).getModificationTime)
        catch { case _: java.io.FileNotFoundException => None } // freed between probe and stat
      val mayRetry = mtime match {
        case None => true
        case Some(t) if System.currentTimeMillis() - t > leaseStaleMs =>
          // Break the stale lease by renaming it aside (atomic on HDFS /
          // local): ONLY the writer whose rename succeeds may take over.
          // A delete-based break lets two takers race — B's delete can
          // remove A's freshly re-acquired lease and both proceed.
          val aside = new org.apache.hadoop.fs.Path(
            s"$path.lease.broken.${ProcessHandle.current().pid()}.${System.nanoTime()}")
          val renamed = try fs.rename(lp, aside) catch { case _: java.io.IOException => false }
          if (renamed) fs.delete(aside, false)
          renamed
        case _ => false
      }
      if (!mayRetry || !tryAcquire())
        throw new IllegalStateException(
          s"lake at $path is being mutated by another writer (lease file $lp); " +
            s"a lease goes stale ${leaseStaleMs} ms after its last write")
    }
    leaseHeld = true
    try body finally { leaseHeld = false; fs.delete(lp, false) }
  }

  /** Replace the table with a plan that may READ this table: stage to a
    * sibling path, then swap via TWO renames with the previous state kept
    * as `.old` until the swap completes. The earlier delete-then-rename
    * had a window where a crash lost the table outright, and a stale
    * `.staging` dir made the next rename nest unpredictably; now every
    * crash point leaves either the old or the new state recoverable (see
    * `recover()`), and stale staging is cleared up front.
    */
  def replace(newState: DataFrame): Unit = withLease {
    recover()
    if (!exists) { overwrite(newState); return }
    val staging = new org.apache.hadoop.fs.Path(path + ".staging")
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    val cur = new org.apache.hadoop.fs.Path(path)
    fs.delete(staging, true) // stale staging from an earlier crash mid-write
    val w = newState.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path + ".staging")
    // markers are written INTO the staging dir before the rename swap, so
    // they travel atomically with the data — a crash at any later point
    // leaves a dir that is marker-complete whether recover() restores
    // `.old` (was live, has its markers) or promotes `.staging`
    if (partitionCols.nonEmpty) writeLayoutMarkerTo(staging)
    writeSchemaFile(staging, newState.schema) // full rewrite: batch schema is authoritative
    fs.delete(old, true)
    fs.rename(cur, old)     // crash here: recover() restores from .old
    fs.rename(staging, cur) // crash here: recover() promotes .staging
    fs.delete(old, true)
  }

  /** Crash recovery for an interrupted `replace` or `overwritePartitions`:
    * if the table path is missing, promote the fully-written `.staging`
    * (written before any rename started) or fall back to `.old`; if a
    * COMMITTED `.pstaging` (has `_SUCCESS`) is present, re-land it —
    * dynamic overwrite replaces whole partition directories, so
    * re-landing after a crash mid-land converges to the same state. An
    * uncommitted `.pstaging` means the land never started: the live
    * table is untouched and the stage is discarded. Idempotent; called
    * automatically by `replace` and `overwritePartitions`.
    */
  def recover(): Unit = {
    val cur = new org.apache.hadoop.fs.Path(path)
    val staging = new org.apache.hadoop.fs.Path(path + ".staging")
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    if (!fs.exists(cur)) {
      if (fs.exists(old) && fs.exists(staging)) { // died between the renames
        fs.rename(staging, cur)
        fs.delete(old, true)
      } else if (fs.exists(old)) fs.rename(old, cur)
      // both promoted dirs normally carry their markers (written into
      // .staging pre-rename); restore them for dirs staged by an older
      // writer so a crash can never strip the layout contract
      if (fs.exists(cur) && partitionCols.nonEmpty &&
          !fs.exists(new org.apache.hadoop.fs.Path(cur, layoutMarker)))
        writeLayoutMarker()
    }
    val pstaging = new org.apache.hadoop.fs.Path(path + ".pstaging")
    if (fs.exists(pstaging)) {
      val committed = fs.exists(new org.apache.hadoop.fs.Path(pstaging, "_SUCCESS"))
      val stagedHasData = committed && fs.listStatus(pstaging).exists(_.isDirectory)
      if (stagedHasData && fs.exists(cur)) {
        // schema from the STAGED footers — a batch may legitimately carry
        // columns the live table lacks (ingest unions with
        // allowMissingColumns), and landing with the live schema would
        // silently project them away. Partition-col TYPES are still
        // pinned from the live table so dir-name re-inference can't
        // drift (string '01' -> int 1).
        val staged = spark.read.parquet(pstaging.toString).schema
        val live = read.schema // pinned when a schema sidecar exists
        val pinned = org.apache.spark.sql.types.StructType(staged.map(f =>
          if (partitionCols.contains(f.name)) live.find(_.name == f.name).getOrElse(f)
          else f))
        landStaged(pinned)
      } else fs.delete(pstaging, true)
    }
  }

  /** Partition-scoped replace: overwrite ONLY the partitions present in
    * `newState`, leaving every other partition directory's files untouched
    * (dynamic partition overwrite). This is the 100 TB write path: an
    * incremental drop touching 1% of the buckets rewrites 1% of the lake,
    * not all of it.
    *
    * `newState` may READ this table (the ingest plan does), and Spark
    * refuses to overwrite a path that feeds the plan — so the new
    * partition contents are staged to a sibling path first, then read
    * back and landed with `partitionOverwriteMode=dynamic`. Both hops
    * move only the touched partitions' bytes. Crash safety: the stage is
    * kept until the land succeeds, and `recover()` re-lands a committed
    * stage (per-partition replacement is idempotent), so every crash
    * point leaves either the pre-call state or the post-call state.
    */
  def overwritePartitions(newState: DataFrame): Unit = withLease {
    require(partitionCols.nonEmpty, "overwritePartitions needs a partitioned layout")
    recover()
    if (!exists) { overwrite(newState); return }
    requireLayoutMatch()
    val staging = new org.apache.hadoop.fs.Path(path + ".pstaging")
    fs.delete(staging, true)
    newState.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(staging.toString)
    landStaged(newState.schema)
  }

  /** Land a committed `.pstaging` with per-write dynamic partition
    * overwrite (no session-conf mutation — concurrent writers in the
    * same session keep their own mode). The caller-supplied schema pins
    * partition-column types, so read-back inference can't diverge from
    * what the writer produced. A zero-row batch stages only `_SUCCESS`:
    * nothing to land, the live table is untouched.
    */
  private def landStaged(schema: org.apache.spark.sql.types.StructType): Unit = {
    val staging = new org.apache.hadoop.fs.Path(path + ".pstaging")
    val hasData = fs.listStatus(staging).exists(_.isDirectory)
    if (hasData) {
      // evolve the persisted schema BEFORE the land: a crash between land
      // and sidecar update would otherwise pin subsequent reads to a
      // schema missing the just-landed columns (the exact silent-drop
      // this sidecar exists to prevent). A sidecar naming a column no
      // file carries yet is harmless — reads surface it as null.
      writeSchemaFile(new org.apache.hadoop.fs.Path(path), unionSchema(schema))
      spark.read.schema(schema).parquet(staging.toString)
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCols: _*).parquet(path)
    }
    fs.delete(staging, true)
  }

  /** Operational stats from the file listing alone — no data or footer
    * reads, so it costs one namespace listing even at 100 TB: one row
    * per partition directory with file count and byte sizes. This is
    * the compaction planner's view (`compact` rewrites partitions whose
    * `n_files` exceeds its threshold); surfaced as `cli stats` so
    * operators can see fragmentation before paying for a rewrite.
    */
  def stats: DataFrame = {
    import spark.implicits._
    if (!exists) return Seq.empty[(String, Long, Long, Long, Long)]
      .toDF("partition", "n_files", "bytes", "min_file_bytes", "max_file_bytes")
    val root = new org.apache.hadoop.fs.Path(path)
    val rootQ = fs.makeQualified(root).toString
    leafDataDirs(root).map { d =>
      val sizes = fs.listStatus(d).filter(isDataFile).map(_.getLen)
      val rel = fs.makeQualified(d).toString.stripPrefix(rootQ).stripPrefix("/")
      (if (rel.isEmpty) "." else rel, sizes.length.toLong, sizes.sum,
        if (sizes.isEmpty) 0L else sizes.min, if (sizes.isEmpty) 0L else sizes.max)
    }.toDF("partition", "n_files", "bytes", "min_file_bytes", "max_file_bytes")
      .orderBy(col("partition"))
  }

  /** Small-file compaction — the housekeeping half of the incremental
    * write path. Partition-scoped ingest keeps rewrites cheap, but every
    * `overwritePartitions` lands at least one file per touched partition,
    * so a partition touched by many drops accumulates many small files
    * and scan tasks degrade to footer-reading overhead. `compact` rewrites
    * ONLY the partitions whose file count exceeds `maxFilesPerPartition`,
    * each into `ceil(bytes / targetFileBytes)` files sorted by `keyCol` —
    * sorted row groups give parquet min/max pruning on key lookups. The
    * land is the same crash-safe staged dynamic overwrite as
    * `overwritePartitions`: untouched partitions' files are never read or
    * moved, and a crash mid-compact leaves either the old or the new
    * files per partition.
    *
    * Returns the relative paths of the compacted partition directories
    * (empty = nothing exceeded the threshold).
    */
  def compact(maxFilesPerPartition: Int = 4,
              targetFileBytes: Long = 128L << 20): Seq[String] = {
    if (!exists) Nil else withLease { compactLocked(maxFilesPerPartition, targetFileBytes) }
  }
  private def compactLocked(maxFilesPerPartition: Int,
                            targetFileBytes: Long): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val dirs = leafDataDirs(root)
    val over = dirs.flatMap { d =>
      // the SAME data-file filter as stats: counting dotted scratch files
      // here once made the planner rewrite a partition the stats view
      // showed as under threshold
      val files = fs.listStatus(d).filter(isDataFile)
      if (files.length > maxFilesPerPartition) Some((d, files.map(_.getLen).sum))
      else None
    }
    if (over.isEmpty) return Nil

    if (partitionCols.isEmpty) {
      val (_, bytes) = over.head
      val nOut = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      replace(read.repartition(nOut).sortWithinPartitions(keyCol))
      return Seq(".")
    }
    // read ONLY the oversized partition dirs; basePath keeps the
    // partition columns in the frame so the rewrite lands back in place
    val schema = read.schema // pin types: re-inference on a subset can drift
    val touched = spark.read.option("basePath", path).schema(schema)
      .parquet(over.map(_._1.toString): _*)
    // per-partition output file count from measured bytes, carried into
    // the shuffle as a salt: rows of one partition spread over nOut
    // shuffle keys, so the writer emits ≈nOut files for it
    import org.apache.spark.sql.Row
    val rootQ = fs.makeQualified(root).toString
    // dir segments are Hive-escaped (%XX) and nulls land in the default
    // partition dir — decode both so the value join below matches what
    // the scan surfaces, else escaped/null partitions would be silently
    // skipped while still being reported as compacted
    val nOutRows = over.map { case (d, bytes) =>
      // partition values parsed from the dir path (col=value segments)
      val segs = fs.makeQualified(d).toString.stripPrefix(rootQ).split("/").filter(_.nonEmpty)
      val vals = segs.map(_.split("=", 2)(1)).map {
        case "__HIVE_DEFAULT_PARTITION__" => null
        case v => LakeTable.unescapeHive(v)
      }
      Row.fromSeq(vals.toSeq :+ math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt)
    }
    val pcSchema = org.apache.spark.sql.types.StructType(
      partitionCols.map(c => org.apache.spark.sql.types.StructField(s"__p_$c",
        org.apache.spark.sql.types.StringType)) :+
        org.apache.spark.sql.types.StructField("__nout", org.apache.spark.sql.types.IntegerType))
    val nOutDf = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(nOutRows.toSeq, 1), pcSchema))
    // null-safe equality: a null partition value must match its parsed
    // null marker row
    val joinCond = partitionCols.map(c => col(c).cast("string") <=> col(s"__p_$c"))
      .reduce(_ && _)
    val salted = touched.join(nOutDf, joinCond)
      .withColumn("__salt", pmod(hash(col(keyCol)), col("__nout")))
    val parts = partitionCols.map(col) :+ col("__salt")
    // sort key includes the partition cols (as a satisfied prefix) so the
    // parquet writer's required per-task ordering doesn't re-sort and
    // drop the key order the row groups need for min/max pruning
    val rewritten = salted
      .repartition(parts: _*)
      .sortWithinPartitions(partitionCols.map(col) :+ col(keyCol): _*)
      .drop((partitionCols.map(c => s"__p_$c") :+ "__nout" :+ "__salt"): _*)
    overwritePartitions(rewritten)
    over.map(o => fs.makeQualified(o._1).toString.stripPrefix(rootQ).stripPrefix("/"))
  }

  /** Optimize the file layout for multi-column predicate pruning: a full
    * rewrite with files range-partitioned and sorted by the Morton key
    * of `zCols`, each column linearly scaled to `bits` bits over its
    * observed min/max (see [[Zorder]]). After the rewrite every file
    * covers a small hyper-rectangle of the `zCols` value space, so a
    * selective filter on ANY of them prunes most files from their
    * footers alone — `compact`'s key sort only ever prunes on the key.
    *
    * Cost shape at 100 TB: one narrow min/max aggregate for the bounds
    * (column-pruned scan), then one range shuffle of the data — the same
    * cost class as a full compaction, staged and atomically swapped via
    * `replace`. Partitioned layouts range-partition by
    * `partitionCols ++ z` so each writer task stays partition-dir
    * aligned and per-dir file counts don't explode.
    *
    * Returns the number of output files requested (bytes/targetFileBytes).
    */
  def clusterBy(zCols: Seq[String], bits: Int = 16,
                targetFileBytes: Long = 128L << 20): Int = withLease {
    require(zCols.nonEmpty, "clusterBy needs at least one column")
    require(exists, s"no table at $path")
    val df = read
    val aggCols = zCols.flatMap(c =>
      Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
    val bounds = df.agg(aggCols.head, aggCols.tail: _*).head()
    val scaled = zCols.zipWithIndex.map { case (c, i) =>
      // an all-null column has null bounds: degenerate domain, scales to 0
      val (lo, hi) =
        if (bounds.isNullAt(2 * i) || bounds.isNullAt(2 * i + 1)) (0.0, 0.0)
        else (bounds.getDouble(2 * i), bounds.getDouble(2 * i + 1))
      Zorder.zScale(col(c), lo, hi, bits)
    }
    val z = if (scaled.size == 1) scaled.head
            else if (scaled.size == 2 && bits == 16) Zorder.zValue2(scaled(0), scaled(1))
            else Zorder.zValueN(scaled, bits)
    val bytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(path)).getLength
    val nOut = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val keys = partitionCols.map(col) :+ z
    replace(df.repartitionByRange(nOut, keys: _*).sortWithinPartitions(keys: _*))
    nOut
  }

  /** Build the per-file bloom sidecar for `keyCol` point lookups (see
    * [[BloomIndex]]). Not lease-guarded: the index is advisory (a stale
    * one only widens the candidate set), so builds can run beside
    * readers freely.
    */
  def buildBloomIndex(): Long = BloomIndex.build(this, path, keyCol)

  /** Incrementally refresh the bloom sidecar after writes: re-bloom
    * only new/changed files, keep the rest. Returns (kept, rebuilt).
    */
  def refreshBloomIndex(): (Long, Long) = BloomIndex.refresh(this, path, keyCol)

  /** Point lookup through the bloom sidecar: rows whose key is in
    * `keys`, opening only bloom-candidate (or index-unknown) files.
    * Returns (rows, filesOpened).
    */
  def lookupKeys(keys: Seq[String]): (DataFrame, Int) =
    BloomIndex.lookup(this, path, keyCol, keys)

  /** K1: upsert by key — keep every existing row whose key is NOT in the
    * update batch, union the batch, rewrite (staged: parquet has no
    * MERGE).
    *
    * Partition-scoped when the layout allows it: if the table is
    * partitioned and the batch carries the partition columns, only the
    * batch's touched partitions are read for the anti-join and only they
    * are rewritten (`overwritePartitions`) — at 100 TB a batch touching
    * 1% of the partitions moves 1% of the lake, not all of it. The
    * scoping is semantically complete under the layout's standing
    * CONTRACT: partition values are a stable function of the key (the
    * ingest layout derives `grp`/`bucket` from the id), so a key's
    * existing row always lives in the partition its update hashes to.
    * A batch that VIOLATES the contract — supplies a partition value
    * that differs from the key's stored partition — leaves the old row
    * alive in its old partition and silently duplicates the key (the
    * full rewrite would have removed it). Callers that cannot prove the
    * contract pass `verifyScope = true`: a key-column-only semi-join
    * over the UNtouched partitions (column-pruned — it never moves data
    * rows) that fails fast on the first contract breach. A batch missing
    * the partition columns falls back to the full staged rewrite.
    */
  def upsert(updates: DataFrame, verifyScope: Boolean = false): Unit = {
    // K1 is upsert BY KEY: a batch carrying two rows for one key would
    // anti-join the existing row away and land BOTH — duplicate keys in
    // a table every downstream join assumes key-unique. There is no
    // generic "latest" among duplicates (no ordering column here), so
    // refuse loudly and let the caller dedupe with its own order.
    // countDistinct ignores NULLs — a null-key row must be diagnosed as
    // such, not miscounted as a "duplicate" (which would misdirect the
    // caller toward deduping a batch with no duplication at all).
    val Array(chk) = updates.agg(count(lit(1)).as("n"),
      count(col(keyCol)).as("nn"), countDistinct(col(keyCol)).as("nd")).collect()
    val nulls = chk.getLong(0) - chk.getLong(1)
    require(nulls == 0L,
      s"upsert batch contains $nulls NULL '$keyCol' rows; a null key cannot be merged by key")
    val dup = chk.getLong(1) - chk.getLong(2)
    require(dup == 0L,
      s"upsert batch contains $dup duplicate '$keyCol' rows; " +
        "dedupe latest-wins before upserting")
    if (!exists) { overwrite(updates); return }
    val scoped = partitionCols.nonEmpty && partitionCols.forall(updates.columns.contains)
    val existing =
      if (scoped) {
        // exact touched-partition predicate: one conjunct per partition
        // tuple of the batch (null-safe; tuples are few — one collect of
        // the batch's distinct partition values, like IngestJob's bucket
        // scope). Prunes to the touched dirs at the scan.
        val touched = updates.select(partitionCols.map(col): _*).distinct().collect()
        val pred = touched.map(r =>
          partitionCols.zipWithIndex.map { case (c, i) => col(c) <=> lit(r.get(i)) }
            .reduce(_ && _)).reduceOption(_ || _).getOrElse(lit(false))
        if (verifyScope) {
          val strays = read.filter(!pred)
            .join(updates.select(keyCol).distinct(), Seq(keyCol), "left_semi")
            .select(col(keyCol)).limit(5).collect()
          require(strays.isEmpty,
            s"upsert scope violation: batch keys already exist OUTSIDE the batch's " +
              s"partitions (partition values must be a stable function of the key); " +
              s"sample stray keys: ${strays.map(_.get(0)).mkString(", ")}")
        }
        read.filter(pred)
      } else read
    val merged = existing.join(updates.select(keyCol).distinct(), Seq(keyCol), "left_anti")
      .unionByName(updates, allowMissingColumns = true)
    if (scoped) overwritePartitions(merged) else replace(merged)
  }

  /** K4: field-level update on a filtered subset (no point updates in
    * parquet — rewrite with the transform applied to matching rows).
    * Rows read from a partitioned lake carry their partition columns, so
    * a transform that keeps them gets the partition-scoped upsert path
    * automatically; one that drops them falls back to the full rewrite.
    */
  def updateWhere(cond: org.apache.spark.sql.Column,
                  transform: DataFrame => DataFrame): Unit = {
    val cur = read
    upsert(transform(cur.filter(cond)))
  }

  /** Small `key=value` properties sidecar stored next to the data
    * (underscore-prefixed — data readers ignore it). Cheap operational
    * state that would otherwise need a table scan to recompute: the
    * ingest pipeline keeps its per-group id watermark here (A1), so a
    * steady-state incremental drop reads a few bytes instead of every
    * file of its id group. Missing sidecar == empty map — callers must
    * treat that as "recompute from the data" (the crash-recovery
    * fallback). Survives partition-scoped lands (root files are outside
    * the dynamic-overwrite window) and is intentionally dropped by
    * full-table truncate/replace, which invalidates derived state.
    */
  def readProps(name: String): Map[String, String] = {
    val p = new org.apache.hadoop.fs.Path(path, name)
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      val text = try org.apache.commons.io.IOUtils.toString(in,
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      text.linesIterator.filter(_.contains("=")).map { l =>
        val Array(k, v) = l.split("=", 2); k -> v
      }.toMap
    }
  }
  def writeProps(name: String, props: Map[String, String]): Unit =
    atomicWrite(new org.apache.hadoop.fs.Path(path, name),
      props.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n"))

  /** F18/F19 patch log (reference: ntp_entry.py:30-46 merge_data diff,
    * OLD/process_place.py:115-157 patch records): append-only parquet of
    * field-level {added, modified} per merged id, stamped at write time.
    * Append mode — patch history accumulates across ingests; at scale
    * this is a plain insert-only event table (no rewrite amplification).
    */
  def appendPatches(p: DataFrame): Unit =
    p.withColumn("patched_at", current_timestamp())
      .write.mode(SaveMode.Append).parquet(path + ".patches")

  def readPatches: DataFrame = spark.read.parquet(path + ".patches")

  /** K8: summary singleton — a one-row table keyed by a constant id,
    * stored alongside (mirrors calc_summary's `{_id:'summary_data'}` row).
    */
  def writeSummary(summary: DataFrame): Unit =
    summary.withColumn("_id", lit("summary_data"))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(path + ".summary")

  def readSummary: DataFrame = spark.read.parquet(path + ".summary")
}

object LakeTable {

  /** Decode a Hive-escaped partition-dir value. Hive escapes are per
    * UTF-8 BYTE: consecutive %XX sequences are accumulated as bytes and
    * decoded together, else a multi-byte (non-ASCII) value — possible in
    * dirs written by external Hive writers — decodes to mojibake, the
    * compact value-join matches nothing, and the partition is silently
    * left fragmented while being reported as compacted.
    */
  private[graft] def unescapeHive(s: String): String = {
    val sb = new StringBuilder(s.length)
    val bytes = new scala.collection.mutable.ArrayBuffer[Byte](8)
    var i = 0
    def flush(): Unit = if (bytes.nonEmpty) {
      sb.append(new String(bytes.toArray, java.nio.charset.StandardCharsets.UTF_8))
      bytes.clear()
    }
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        bytes += Integer.parseInt(s.substring(i + 1, i + 3), 16).toByte; i += 3
      } else { flush(); sb.append(c); i += 1 }
    }
    flush()
    sb.toString
  }

  /** Read the persisted layout contract of a lake table:
    * Some((partitionCols, nBuckets)) if the marker is present, None for
    * pre-marker or unpartitioned tables. Callers reconstructing a
    * LakeTable for an existing lake (the CLI does) should prefer this
    * over assuming a default bucket count.
    */
  def layoutOf(spark: SparkSession, path: String): Option[(Seq[String], Int)] = {
    val p = new org.apache.hadoop.fs.Path(path, "_graft_layout")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try org.apache.commons.io.IOUtils.toString(in,
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      val kv = text.linesIterator.filter(_.contains("="))
        .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap
      for {
        pc <- kv.get("partitionCols")
        nb <- kv.get("nBuckets")
      } yield (pc.split(",").toSeq, nb.trim.toInt)
    }
  }
}
