package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Manifest-versioned parquet lake: snapshot isolation, time travel and
  * file-level copy-on-write merges — the transaction-log tier above
  * [[LakeTable]]'s directory-swap model (SURVEY §2.2; the reference's
  * MongoDB gives it per-document atomicity and point-in-time backups via
  * `backup_storage`, reference: nextplib/ntp_storage.py:47-50 — on a
  * parquet lake both come from immutable files plus a versioned
  * manifest).
  *
  * Layout:
  * {{{
  *   <path>/data/f-<version>-<nonce>-<n>.parquet   immutable, accumulate
  *   <path>/_snap/v00000042.manifest               one per committed version
  * }}}
  *
  * A manifest is the COMPLETE live-file list of its version (plus schema
  * and provenance), so a read is: resolve the newest complete manifest,
  * open exactly its files. No recursive data listing ever happens — at a
  * million files read planning is one small-dir listing plus one
  * manifest read, and `history` is manifest-only (zero data IO).
  *
  * Commit protocol — optimistic, no lease:
  *  1. the op captures `base` = newest complete version it built from;
  *  2. data files land under immutable unique names (a visible manifest
  *     can therefore never reference missing data);
  *  3. the claim: `fs.create(v<max(claimed)+1>, overwrite = false)` —
  *     atomic create-exclusive serializes version numbers; the claim
  *     stays EMPTY (torn ⇒ invisible to readers) through validation;
  *  4. validation: any OTHER claim strictly between `base` and the
  *     claimed version that is complete — or torn but younger than
  *     `claimStaleMs` (a possibly in-flight writer) — means this commit
  *     built on stale state: the writer deletes its own empty claim and
  *     throws [[SnapshotConflict]]. Spurious conflicts (a young corpse)
  *     cost a retry; lost updates cannot happen.
  *  5. only now is the manifest content (ending in the `end`
  *     terminator) written and closed — the version becomes readable
  *     and can never be rolled back afterwards. Ordering 4 before 5 is
  *     load-bearing: content-before-validation would let a reader
  *     resolve a version the conflict check is about to delete (a
  *     latestVersion/readManifest pair in a concurrent reader would
  *     see the version appear and then vanish — caught by the
  *     SnapshotLakeSpec writer-race test).
  * A writer that crashes mid-commit leaves a terminator-less manifest:
  * invisible to readers, claimed-above by later writers, conflict-inert
  * once older than `claimStaleMs`, removed by `vacuum`. Its data files
  * are age-guarded orphans that `vacuum` collects.
  *
  * Liveness constraint: a LIVE writer must finish steps 4-5 within
  * `claimStaleMs` of its claim, or a competitor may classify the claim
  * as a corpse and commit past it (a lost update). The validation is
  * metadata-only (one claim listing + one manifest read per intervening
  * version), so the 10-minute default leaves orders of magnitude of
  * headroom — but do not shrink `claimStaleMs` toward the scale of a
  * listing RPC on a slow store.
  *
  * Readers are snapshot-isolated for free: a resolved manifest's files
  * are immutable and never touched by writers — only `vacuum` deletes,
  * and only files unreferenced by every retained version.
  *
  * Copy-on-write upsert: one column-pruned scan of the key column (with
  * `_metadata.file_path`) finds the files that actually contain batch
  * keys; only those are rewritten, every other live file is carried into
  * the new manifest by reference. An upsert touching 1 % of the files
  * moves 1 % of the bytes — finer-grained than partition scoping and
  * independent of the partition layout.
  */
class SnapshotLake(private[lake] val spark: SparkSession, val path: String,
                   val keyCol: String, claimStaleMs: Long = 10L * 60 * 1000) {

  import SnapshotLake._

  private def fs: org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def snapDir = new org.apache.hadoop.fs.Path(path, "_snap")
  private def dataDir = new org.apache.hadoop.fs.Path(path, "data")
  private def manifestPath(v: Long) =
    new org.apache.hadoop.fs.Path(snapDir, f"v$v%08d.manifest")

  def exists: Boolean = fs.exists(snapDir) && latestVersion.isDefined

  /** All claimed version numbers (complete or torn — a torn claim still
    * owns its number), ascending. One small-dir listing.
    */
  private[lake] def claimedVersions: Seq[Long] =
    if (!fs.exists(snapDir)) Nil
    else fs.listStatus(snapDir).toSeq.map(_.getPath.getName)
      .collect { case VersionRe(d) => d.toLong }.sorted

  /** Newest version with a complete (terminator-checked) manifest. */
  def latestVersion: Option[Long] =
    claimedVersions.reverse.find(v => readManifest(v).isDefined)

  /** The newest complete version's schema and every data file some
    * complete version references, each once; None with no complete
    * version. Reads each manifest once.
    */
  private[lake] def retainedFiles: Option[(StructType, Seq[FileEntry])] = {
    val ms = claimedVersions.flatMap(readManifest)
    ms.lastOption.map(m => (m.schema, ms.flatMap(_.files).distinct))
  }

  /** The manifest of version `at`, or of the newest complete version;
    * throws when there is none.
    */
  private[lake] def resolve(at: Option[Long]): Manifest = at match {
    case Some(v) => requireManifest(v)
    case None => claimedVersions.reverseIterator.flatMap(readManifest).nextOption()
      .getOrElse(throw new IllegalArgumentException(s"no snapshots at $path"))
  }

  private[graft] def readManifest(v: Long): Option[Manifest] = {
    val p = manifestPath(v)
    try {
      val in = fs.open(p)
      val text = try org.apache.commons.io.IOUtils.toString(in,
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      parseManifest(text)
    } catch {
      // a conflicting writer DELETES its empty claim on abort; a reader
      // that listed the claim can race that delete between listing and
      // this open (exists-then-open is the same TOCTOU as the claim
      // itself was). A vanished claim is simply "no complete manifest"
      // — crashing latestVersion/retainedFiles over it turned writer
      // conflicts into reader failures (caught by the claim-storm spec)
      case _: java.io.FileNotFoundException => None
    }
  }

  private def requireManifest(v: Long): Manifest =
    readManifest(v).getOrElse(throw new IllegalArgumentException(
      s"no complete snapshot v$v at $path (vacuumed, never committed, or torn)"))

  /** Current state: the newest committed snapshot. */
  def read: DataFrame = readAt(latestVersion.getOrElse(
    throw new IllegalArgumentException(s"no snapshots at $path")))

  /** Time travel: the table exactly as of version `v`. */
  def readAt(v: Long): DataFrame = {
    val m = requireManifest(v)
    scan(m.schema, m.files)
  }

  /** The rows of `files` under `schema` (none: an empty frame). */
  private[lake] def scan(schema: StructType, files: Seq[FileEntry]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(files.map(f => s"$path/${f.rel}"): _*)

  /** Manifest-only version log: (version, op, ts, base_version, n_files,
    * bytes). Zero data IO.
    */
  def history(): DataFrame = {
    import spark.implicits._
    claimedVersions.flatMap(readManifest).map(m =>
        (m.version, m.op, m.ts, m.base, m.files.size.toLong, m.files.map(_.len).sum))
      .toDF("version", "op", "ts", "base_version", "n_files", "bytes")
  }

  /** Land `df` under unique immutable names in `data/`, return entries.
    * The nonce keys the names, not the version: a conflicted commit's
    * files can never collide with the winner's. Each entry carries the
    * [[FileStats]] of the commit's `schema`, read from its footer on the
    * driver: no Spark job, no data read.
    */
  private def landFiles(df: DataFrame, schema: StructType): Seq[FileEntry] = {
    val nonce = java.util.UUID.randomUUID().toString.take(12)
    val stage = new org.apache.hadoop.fs.Path(path, s".stage-$nonce")
    df.write.parquet(stage.toString)
    fs.mkdirs(dataDir)
    val parts = fs.listStatus(stage).toSeq
      .filter(s => s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    val conf = spark.sparkContext.hadoopConfiguration
    val entries = parts.zipWithIndex.map { case (s, i) =>
      val stats = FileStats.ofFile(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(s, conf), schema)
      val name = f"f-$nonce-$i%05d.parquet"
      if (!fs.rename(s.getPath, new org.apache.hadoop.fs.Path(dataDir, name)))
        throw new java.io.IOException(s"rename into $dataDir failed for ${s.getPath}")
      FileEntry(s"data/$name", s.getLen, Some(stats))
    }
    fs.delete(stage, true)
    entries
  }

  /** Steps 3-5 of the commit protocol (see class doc). */
  private[graft] def commitVersion(base: Long, op: String, schema: StructType,
                                   files: Seq[FileEntry]): Long = {
    fs.mkdirs(snapDir)
    var v = 0L
    var claimed: org.apache.hadoop.fs.FSDataOutputStream = null
    var attempts = 0
    while (claimed == null) { // name collisions recompute and retry; conflicts throw below
      attempts += 1
      if (attempts > 20) throw new SnapshotConflict(
        s"could not claim a version at $path after $attempts attempts (writer storm)")
      v = claimedVersions.lastOption.getOrElse(0L) + 1
      val p = manifestPath(v)
      // THE claim must be create-EXCLUSIVE. fs.create(p, false) is atomic
      // on HDFS, but Hadoop's local filesystem implements it as a
      // non-atomic exists-then-create (TOCTOU): two racing writers can
      // both "win" the same version number, after which the later
      // manifest content silently REPLACES the earlier one — a lost
      // update with both writers reporting success (caught once by the
      // 4-writer race spec under full-suite load). On file: schemes the
      // claim therefore goes through java.nio's O_CREAT|O_EXCL, which IS
      // atomic on POSIX; having won it, reopening our own empty claim
      // with overwrite is safe (competitors now see the file and lose).
      try {
        if (fs.makeQualified(p).toUri.getScheme == "file") {
          java.nio.file.Files.createFile(
            java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath))
          claimed = fs.create(p, true)
        } else claimed = fs.create(p, false)
      }
      catch { case _: java.io.IOException => () } // incl. FileAlreadyExists: recompute v
    }
    // the claim is held EMPTY through validation: an empty manifest is
    // torn ⇒ invisible to every reader, so aborting below cannot yank a
    // version out from under a concurrent latestVersion/readManifest
    // pair. Content is written only once this commit can no longer fail.
    val cutoff = System.currentTimeMillis() - claimStaleMs
    val intervening = claimedVersions.filter(w => w > base && w < v).filter { w =>
      readManifest(w).isDefined || {
        val st = try Some(fs.getFileStatus(manifestPath(w)))
                 catch { case _: java.io.FileNotFoundException => None }
        st.exists(_.getModificationTime >= cutoff) // young torn claim: possibly in flight
      }
    }
    if (intervening.nonEmpty) {
      // delete must run even if close() throws (object-store streams can
      // fail at close) — a leaked empty claim would block competitors as
      // a young torn claim until claimStaleMs, and the caller's
      // rebuild-and-retry contract expects SnapshotConflict, not IOException
      try claimed.close()
      catch { case _: java.io.IOException => () }
      finally fs.delete(manifestPath(v), false)
      throw new SnapshotConflict(
        s"snapshot commit at $path built against v$base but v${intervening.mkString(",v")} " +
          "intervened; rebuild against the new state and retry")
    }
    val m = Manifest(v, op, System.currentTimeMillis(), base, schema, files)
    try claimed.write(renderManifest(m).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally claimed.close()
    raiseIfShadowed(v)
    v
  }

  /** Lost-update detection, run AFTER the manifest content lands: a
    * writer paused > claimStaleMs between claim and content-write can be
    * classified as a corpse and committed past — its version is then
    * visible but SHADOWED by a later version (one with `base < v`) that
    * never saw it. The version log stays linear and readers stay
    * consistent, but this writer's change is silently absent from
    * latest. Re-list and fail LOUDLY so the caller rebuilds against the
    * new state and retries, instead of receiving a success that
    * `latest()` does not reflect.
    */
  private[graft] def raiseIfShadowed(v: Long): Unit = {
    val shadowed = claimedVersions.filter(_ > v).flatMap(readManifest)
      .filter(_.base < v)
    if (shadowed.nonEmpty) throw new SnapshotConflict(
      s"snapshot commit v$v at $path was shadowed by " +
        s"v${shadowed.map(_.version).mkString(",v")} (claimed past this writer as a " +
        "stale corpse); the change is not in latest — rebuild and retry")
  }

  /** Truncate-and-load: the new snapshot references only the new files. */
  def overwrite(df: DataFrame): Unit = {
    val base = latestVersion.getOrElse(0L)
    commitVersion(base, "overwrite", df.schema, landFiles(df, df.schema))
  }

  /** Append-only commit: previous live set plus the new files. Schema
    * unions like [[LakeTable]]: existing fields keep position and type,
    * new fields join as nullable (old files read them as null through
    * the manifest-pinned schema).
    */
  def append(df: DataFrame): Unit = latestVersion match {
    case None => overwrite(df)
    case Some(b) =>
      val cur = requireManifest(b)
      val schema = unionSchema(cur.schema, df.schema)
      commitVersion(cur.version, "append", schema, cur.files ++ landFiles(df, schema))
  }

  /** File-level copy-on-write upsert (K1 under snapshots): rewrite ONLY
    * the files that contain a batch key; carry every other file by
    * reference. The touched-file probe is a key-column-only scan —
    * column-pruned at the parquet reader, it reads a fraction of the
    * bytes a full scan would, and the collected result is file PATHS
    * (bounded by file count, never row count).
    */
  def upsert(batch: DataFrame): Unit = latestVersion match {
    case None =>
      requireKeyUnique(batch)
      overwrite(batch)
    case Some(b) =>
      requireKeyUnique(batch)
      val cur = requireManifest(b)
      val keys = batch.select(col(keyCol)).distinct()
      val touchedNames: Set[String] =
        if (cur.files.isEmpty) Set.empty
        else scan(cur.schema, cur.files)
          .select(col(keyCol), col("_metadata.file_path").as("__f"))
          .join(keys, Seq(keyCol), "left_semi")
          .select(col("__f")).distinct().collect()
          .map(r => r.getString(0).split('/').last).toSet
      val (touched, untouched) = cur.files.partition(f => touchedNames(f.rel.split('/').last))
      val merged =
        if (touched.isEmpty) batch
        else scan(cur.schema, touched).join(keys, Seq(keyCol), "left_anti")
          .unionByName(batch, allowMissingColumns = true)
      val schema = unionSchema(cur.schema, batch.schema)
      commitVersion(cur.version, "upsert", schema, untouched ++ landFiles(merged, schema))
  }

  /** Upsert is BY KEY: a batch with two rows for one key would remove
    * the existing row and land both — duplicate keys in a table whose
    * readers assume key-uniqueness. No ordering column exists here to
    * pick a "latest", so refuse loudly; callers dedupe with their own
    * order first.
    */
  private def requireKeyUnique(batch: DataFrame): Unit = {
    // countDistinct ignores NULLs — counting nulls into the duplicate
    // delta would reject a single null-key row as "1 duplicate" and
    // misdirect the caller toward deduping. Diagnose null keys
    // separately; duplicates are computed over NON-NULL keys only.
    val r = batch.agg(count(lit(1)).as("n"), count(col(keyCol)).as("nn"),
        countDistinct(col(keyCol)).as("nd"))
      .collect().head
    val nulls = r.getLong(0) - r.getLong(1)
    require(nulls == 0L,
      s"upsert batch contains $nulls NULL '$keyCol' rows; a null key cannot be merged by key")
    val d = r.getLong(1) - r.getLong(2)
    require(d == 0L,
      s"upsert batch contains $d duplicate '$keyCol' rows; dedupe latest-wins first")
  }

  /** Copy-on-write delete: rewrite only the files with matching rows. A
    * predicate matching nothing commits nothing (no empty version).
    */
  def deleteWhere(cond: org.apache.spark.sql.Column): Unit = {
    val cur = resolve(None)
    if (cur.files.isEmpty) return
    val touchedNames = scan(cur.schema, cur.files).filter(cond)
      .select(col("_metadata.file_path")).distinct().collect()
      .map(r => r.getString(0).split('/').last).toSet
    if (touchedNames.isEmpty) return
    val (touched, untouched) = cur.files.partition(f => touchedNames(f.rel.split('/').last))
    val kept = scan(cur.schema, touched).filter(!cond)
    commitVersion(cur.version, "delete", cur.schema, untouched ++ landFiles(kept, cur.schema))
  }

  /** Bin-pack compaction as a versioned op — THE recurring operational
    * job at 100 TB, where every streaming upsert and small CoW rewrite
    * sheds sub-target files until read planning drowns in per-file
    * overhead. Files smaller than `smallBytes` are concatenated into
    * ~`targetBytes` outputs via `coalesce` (pure concatenation — no
    * shuffle, no sort, rows move through one narrow stage); every
    * file already at size is CARRIED BY REFERENCE. Data is identical
    * row-for-row; time travel to pre-compaction versions still resolves
    * the old layout (their manifests pin the old files until `vacuum`).
    * Returns (filesCompacted, filesProduced) — (0, 0) when there is
    * nothing worth packing.
    */
  def compact(smallBytes: Long = 32L << 20, targetBytes: Long = 128L << 20): (Int, Int) = {
    val cur = resolve(None)
    val (small, big) = cur.files.partition(_.len < smallBytes)
    if (small.size <= 1) return (0, 0) // one small file can't pack any tighter
    val nOut = math.max(1, math.ceil(small.map(_.len).sum.toDouble / targetBytes).toInt)
    if (nOut >= small.size) return (0, 0) // packing wouldn't reduce the file count
    val merged = scan(cur.schema, small).coalesce(nOut)
    commitVersion(cur.version, "compact", cur.schema, big ++ landFiles(merged, cur.schema))
    (small.size, nOut)
  }

  /** Clustered rewrite as a versioned op: range-partition and sort the
    * whole table by `sortCols` (typically a [[Zorder]] key) so parquet
    * min/max footers prune range predicates on the sort dimensions. A
    * full rewrite by design — clustering IS a layout change — but
    * committed like any other version: readers of older snapshots keep
    * the old layout, and a conflict with a concurrent writer aborts
    * cleanly instead of clobbering.
    */
  def cluster(sortCols: Seq[org.apache.spark.sql.Column], nFiles: Int): Unit = {
    val cur = resolve(None)
    val clustered = readAt(cur.version)
      .repartitionByRange(nFiles, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    commitVersion(cur.version, "cluster", cur.schema, landFiles(clustered, cur.schema))
  }

  /** Row-level change feed between two committed snapshots (CDC read):
    * every row inserted, updated or deleted in `(fromV, toV]`, classified
    * in a `change_type` column (`insert` / `update_post` / `delete` —
    * updates and deletes carry the post- and pre-image respectively).
    * With `preImages = true` each update ALSO emits its pre-image as an
    * `update_pre` row (the Delta-CDF row pair): exactly what a
    * downstream RETRACTABLE aggregate needs — apply -pre +post and a
    * maintained sum/count never drifts from the snapshot state
    * ([[MaterializedAgg.landChangesDrop]] consumes this form).
    *
    * Cost is bounded by CHURN, not table size: manifests are complete
    * file lists, so the file-set diff finds exactly the files added or
    * dropped across the interval — files carried by reference (the
    * untouched bulk under copy-on-write) are never opened. Rows that a
    * CoW rewrite copied verbatim into a new file appear on both sides of
    * the diff and are cancelled by the null-safe full-row compare, so
    * only genuine changes survive. The one join shuffles only the
    * churned files' rows — at 100 TB an upsert that touched 1 % of the
    * files yields a change feed that reads 2 % of the bytes.
    *
    * Intermediate states collapse (v1→v3 diffs the endpoints): a key
    * updated twice shows once with its final post-image, an insert later
    * deleted shows not at all — the semantics of a snapshot diff, same
    * as a lakehouse "latest net changes" read.
    */
  def changesBetween(fromV: Long, toV: Long, preImages: Boolean = false): DataFrame = {
    require(fromV <= toV, s"changesBetween: fromV=$fromV must be <= toV=$toV")
    val from = requireManifest(fromV)
    val to = requireManifest(toV)
    val fromSet = from.files.map(_.rel).toSet
    val toSet = to.files.map(_.rel).toSet
    // read old-side files under the NEW schema: fields added since fromV
    // surface as null in the pre-image, exactly as readAt-then-align would
    val newRows = scan(to.schema, to.files.filterNot(f => fromSet(f.rel)))
    val oldRows = scan(to.schema, from.files.filterNot(f => toSet(f.rel)))
    val dataCols = to.schema.fieldNames.toSeq.filterNot(_ == keyCol)
    val n = newRows.alias("n")
    val o = oldRows.alias("o")
    val sameRow = dataCols.map(c => col(s"n.$c") <=> col(s"o.$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val isDelete = col(s"n.$keyCol").isNull
    val joined = n.join(o, col(s"n.$keyCol") === col(s"o.$keyCol"), "full_outer")
      .withColumn("change_type",
        when(col(s"o.$keyCol").isNull, "insert")
          .when(isDelete, "delete")
          .when(!sameRow, "update_post")
          .otherwise("carried"))
      .filter(col("change_type") =!= "carried")
    val post = joined
      .select(when(isDelete, col(s"o.$keyCol")).otherwise(col(s"n.$keyCol")).as(keyCol) +:
        dataCols.map(c => when(isDelete, col(s"o.$c")).otherwise(col(s"n.$c")).as(c)) :+
        col("change_type"): _*)
    if (!preImages) post
    else post.unionByName(joined.filter(col("change_type") === "update_post")
      .select(col(s"o.$keyCol").as(keyCol) +:
        dataCols.map(c => col(s"o.$c").as(c)) :+
        lit("update_pre").as("change_type"): _*))
  }

  /** Net changes from `v` to the current snapshot. */
  def changesSince(v: Long): DataFrame =
    changesBetween(v, latestVersion.getOrElse(
      throw new IllegalArgumentException(s"no snapshots at $path")))

  /** Drop history: delete every data file unreferenced by the newest
    * `retainVersions` complete snapshots, then the older manifests. The
    * age guard (`minAgeMs`) protects concurrent IN-FLIGHT commits, whose
    * data lands before their manifest: young orphans are left for the
    * next vacuum, and young torn manifests (possibly mid-write) are kept
    * too. Time travel older than the horizon stops working — that is the
    * point. Returns (dataFilesDeleted, manifestsDeleted).
    */
  def vacuum(retainVersions: Int = 2, minAgeMs: Long = 0L): (Int, Int) = {
    require(retainVersions >= 1, "must retain at least the current version")
    val complete = claimedVersions.filter(v => readManifest(v).isDefined)
    val keep = complete.takeRight(retainVersions).toSet
    val referenced: Set[String] =
      keep.flatMap(v => requireManifest(v).files.map(_.rel.split('/').last))
    val cutoff = System.currentTimeMillis() - minAgeMs
    var dataGone = 0
    if (fs.exists(dataDir)) fs.listStatus(dataDir).foreach { s =>
      if (!referenced(s.getPath.getName) && s.getModificationTime < cutoff) {
        fs.delete(s.getPath, false); dataGone += 1
      }
    }
    var manGone = 0
    claimedVersions.filterNot(keep).foreach { v =>
      val safe = readManifest(v).isDefined || {
        val st = try Some(fs.getFileStatus(manifestPath(v)))
                 catch { case _: java.io.FileNotFoundException => None }
        st.forall(_.getModificationTime < cutoff) // torn AND old = dead corpse
      }
      if (safe && fs.delete(manifestPath(v), false)) manGone += 1
    }
    (dataGone, manGone)
  }
}

/** A concurrent writer committed first against the same base state. */
class SnapshotConflict(msg: String) extends IllegalStateException(msg)

object SnapshotLake {
  // {8,}, not {8}: %08d pads to AT LEAST 8 digits. An exact-8 match
  // would blind claimedVersions at version 100,000,000 — latestVersion
  // stalls and every new claim collides with the invisible v100000000
  // manifest until the writer-storm guard kills the commit (the same
  // off-by-width found and fixed in CdcConsumer's offset claims).
  private val VersionRe = "v([0-9]{8,})\\.manifest".r

  // `stats` is None in a manifest written before entries carried them
  private[graft] case class FileEntry(rel: String, len: Long, stats: Option[FileStats] = None)
  private[graft] case class Manifest(version: Long, op: String, ts: Long, base: Long,
                                     schema: StructType, files: Seq[FileEntry])

  private[lake] def unionSchema(base: StructType, add: StructType): StructType = {
    val known = base.map(_.name).toSet
    StructType(base ++ add.filterNot(f => known(f.name)).map(_.copy(nullable = true)))
  }

  /** k=v header, one `f <len> <rel>` line per file, each followed by
    * its [[FileStats.render]] line when it has stats, `end` terminator.
    * The terminator is the torn-write detector: a manifest without it
    * does not exist as far as readers are concerned. A parser that does
    * not know the stats lines skips them.
    */
  private[lake] def renderManifest(m: Manifest): String = {
    val sb = new StringBuilder
    sb ++= s"version=${m.version}\nop=${m.op}\nts=${m.ts}\nbase=${m.base}\n"
    sb ++= s"schema=${m.schema.json}\n"
    m.files.foreach { f =>
      sb ++= s"f ${f.len} ${f.rel}\n"
      f.stats.foreach(st => sb ++= s"${FileStats.render(st)}\n")
    }
    sb ++= "end\n"
    sb.toString
  }

  private[lake] def parseManifest(text: String): Option[Manifest] = {
    val lines = text.split("\n", -1)
    if (!lines.contains("end")) return None
    try {
      val kv = lines.takeWhile(l => !l.startsWith("f ") && l != "end")
        .filter(_.contains('=')).map { l =>
          val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
        }.toMap
      // a stats line belongs to the file line before it; one that does
      // not parse leaves its file without stats, never the version torn
      val files = lines.foldLeft(Vector.empty[FileEntry]) { (acc, l) =>
        if (l.startsWith("f ")) {
          val Array(_, len, rel) = l.split(" ", 3)
          acc :+ FileEntry(rel, len.toLong)
        } else if (l.startsWith("s ") && acc.nonEmpty)
          acc.init :+ acc.last.copy(stats = FileStats.parse(l))
        else acc
      }
      Some(Manifest(kv("version").toLong, kv("op"), kv("ts").toLong, kv("base").toLong,
        org.apache.spark.sql.types.DataType.fromJson(kv("schema")).asInstanceOf[StructType],
        files))
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}
