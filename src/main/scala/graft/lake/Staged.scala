package graft.lake

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Staged-swap parquet landing, shared by every sidecar/index tier
  * ([[BloomIndex]], [[graft.ops.DedupIndex]],
  * [[graft.ops.SimilarityIndex]], [[MaterializedAgg]]): write
  * `<path>.staging`, delete the destination, rename. A crash leaves the
  * old artifact, the new one, or none — "none" means rebuild, never a
  * torn artifact that silently serves wrong answers.
  *
  * ATOMICITY ASSUMPTION ([[land]]/[[landMany]]/[[swapRoot]]): the
  * "old, new, or none" guarantee rides `FileSystem.rename` being atomic
  * — true on HDFS and local filesystems (this sandbox). On S3-class
  * object stores rename is COPY+DELETE: a crash mid-copy can leave a
  * PARTIAL destination, which a reader would serve as a torn artifact.
  * Deploying the sidecar tiers on such a store means either an
  * S3-committer-style filesystem (rename-safe), or the marker-commit
  * variant below ([[landMarked]]/[[resolveMarked]]) whose served root
  * is immutable and whose only mutation is one small marker PUT.
  */
object Staged {

  /** Land `df` at `path` by staged swap; returns the number of rows
    * landed — an observed metric of the write itself, read with the
    * bounded wait of [[ChurnSplit.MetricsWait]], so no caller re-reads
    * the landing to count it.
    */
  def land(spark: SparkSession, path: String, df: DataFrame): Long = {
    val dest = new org.apache.hadoop.fs.Path(path)
    require(dest.getParent != null, s"cannot stage-land at a filesystem root: $path")
    // dot-prefixed staging: invisible to Spark's file listing AND to
    // partition discovery — a `seg=1.staging` sibling would otherwise be
    // inferred as partition seg='1.staging' by readers of the parent dir
    val staging = new org.apache.hadoop.fs.Path(
      dest.getParent, "." + dest.getName + ".staging")
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(staging, true)
    val landed = Observation()
    df.observe(landed, count(lit(1)).as("n")).write.mode("overwrite").parquet(staging.toString)
    fs.delete(dest, true)
    renameOrThrow(fs, staging, dest)
    ChurnSplit.observed(landed, path)
  }

  /** `FileSystem.rename` signals most failures (cross-filesystem move,
    * concurrent re-creation of dest, object-store rename fallback) by
    * returning FALSE, not by throwing. Swallowing that false would
    * report success while NO live artifact exists — fail loudly instead
    * so the caller's "old, new, or none → rebuild" contract holds.
    */
  private[graft] def renameOrThrow(fs: org.apache.hadoop.fs.FileSystem,
                            from: org.apache.hadoop.fs.Path,
                            to: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(
        s"staged swap failed: rename($from -> $to) returned false; " +
          "the destination is absent — rebuild the artifact")

  /** Land SEVERAL tables under one root in a SINGLE swap: every table
    * writes to `.root.staging/<name>`, then the root is replaced by one
    * rename. For an index whose tables must agree (e.g. a posting list
    * and its length norms), two independent [[land]] calls would leave a
    * crash window between the swaps where new postings pair with old
    * norms — a torn index that serves wrong answers with no error. One
    * root rename gives old index, new index, or none.
    *
    * Plans may read the CURRENT tables under `root`: staging writes
    * materialize them before the old root is touched. Returns each
    * table's landed row count, observed on its write as in [[land]].
    */
  def landMany(spark: SparkSession, root: String,
               tables: Seq[(String, DataFrame)]): Map[String, Long] = {
    val dest = new org.apache.hadoop.fs.Path(root)
    require(dest.getParent != null, s"cannot stage-land at a filesystem root: $root")
    val staging = new org.apache.hadoop.fs.Path(
      dest.getParent, "." + dest.getName + ".staging")
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(staging, true)
    // per-table writes overlap (guide §2.6, graft.core.Overlap): each
    // table writes to its own staging subdirectory, so the corpus-sized
    // `lists` write backfills the scheduling gaps of the codebook-sized
    // sidecar writes instead of queueing five near-empty jobs serially.
    // The commit protocol is unchanged — everything still lands under
    // ONE staging root swapped by ONE rename. `all` raises a failed
    // table only once every sibling write has ended, so a retry's
    // delete of the staging root is never raced by a late sibling.
    val landed = tables.map { case (name, df) => (name, df, Observation()) }
    graft.core.Overlap.all(landed.map { case (name, df, o) =>
      () => df.observe(o, count(lit(1)).as("n")).write.mode("overwrite")
        .parquet(s"$staging/$name")
    })
    fs.delete(dest, true)
    renameOrThrow(fs, staging, dest)
    landed.map { case (name, _, o) => name -> ChurnSplit.observed(o, s"$root/$name") }.toMap
  }

  /** Swap an ENTIRE segmented root (`path/seg=...`) for one folded
    * segment in a single rename — the compaction posture shared by
    * [[MaterializedAgg.compact]] and the [[graft.ops.Sketches]] tiers.
    * A per-segment delete sequence would give a concurrent reader a
    * double-counting window; this gives old root, new root, or none.
    * `folded` must already be materialized (e.g. localCheckpoint) — the
    * root it was computed from is deleted before the rename.
    */
  def swapRoot(spark: SparkSession, path: String, folded: DataFrame,
               segName: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    require(root.getParent != null, s"cannot swap a filesystem root: $path")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(
      root.getParent, "." + root.getName + ".compact.staging")
    fs.delete(staging, true)
    folded.write.parquet(s"$staging/$segName")
    fs.delete(root, true)
    renameOrThrow(fs, staging, root)
  }

  // ------------------------------------------------------------------
  // Marker-commit protocol: the object-store-safe landing. The served
  // artifact never moves — content lands under an IMMUTABLE generation
  // dir `<path>.g<N>`, and the tiny marker file `<path>.current` is
  // written LAST naming the live generation. Readers resolve through
  // the marker; a generation is only ever named once it is complete
  // (Spark's _SUCCESS is its completeness witness). Crash analysis on
  // a store with copy+delete "rename":
  //   - mid content write  -> partial orphan gen, marker still names
  //                           the previous complete gen;
  //   - mid marker update  -> marker torn/missing, readers fall back
  //                           to the newest gen WITH _SUCCESS (the
  //                           orphan has none, so it is never chosen);
  //   - after marker       -> new gen serves; stale gens pruned on the
  //                           NEXT land (readers of the previous gen
  //                           get one full land-cycle of grace).
  // Nothing here depends on rename atomicity: the only overwrite is
  // the one-object marker, and a torn marker degrades to the scan
  // fallback, never to serving partial data.
  // ------------------------------------------------------------------

  private def markerPath(dest: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(dest.getParent, dest.getName + ".current")
  private def genPath(dest: org.apache.hadoop.fs.Path, g: Long) =
    new org.apache.hadoop.fs.Path(dest.getParent, dest.getName + f".g$g%06d")
  private val GenRe = """.*\.g(\d{6})""".r
  private val MarkerEnd = "#end"

  private def listGens(fs: org.apache.hadoop.fs.FileSystem,
                       dest: org.apache.hadoop.fs.Path): Seq[Long] = {
    val parent = dest.getParent
    if (!fs.exists(parent)) Nil
    else fs.listStatus(parent).toSeq.map(_.getPath.getName).collect {
      case GenRe(d) if d.forall(_.isDigit) => d.toLong
    }.sorted
  }

  private def completeGens(fs: org.apache.hadoop.fs.FileSystem,
                           dest: org.apache.hadoop.fs.Path): Seq[Long] =
    listGens(fs, dest).filter(g =>
      fs.exists(new org.apache.hadoop.fs.Path(genPath(dest, g), "_SUCCESS")))

  /** The live generation per the marker, if the marker is present,
    * complete (terminator-checked, like SnapshotLake manifests) and
    * names a complete generation dir.
    */
  private def markerGen(fs: org.apache.hadoop.fs.FileSystem,
                        dest: org.apache.hadoop.fs.Path): Option[Long] = {
    val mp = markerPath(dest)
    if (!fs.exists(mp)) return None
    val in = fs.open(mp)
    val text = try org.apache.commons.io.IOUtils.toString(in,
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    val lines = text.linesIterator.toSeq
    if (lines.length != 2 || lines(1) != MarkerEnd) None // torn marker
    else lines.headOption.filter(_.forall(_.isDigit)).map(_.toLong)
      .filter(g => fs.exists(new org.apache.hadoop.fs.Path(genPath(dest, g), "_SUCCESS")))
  }

  /** Land `df` under the marker-commit protocol. Safe on object stores:
    * no rename of served content anywhere — see the protocol note above.
    */
  def landMarked(spark: SparkSession, path: String, df: DataFrame): Unit = {
    val dest = new org.apache.hadoop.fs.Path(path)
    require(dest.getParent != null, s"cannot marker-land at a filesystem root: $path")
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the gen live BEFORE this land — via marker, or (marker torn/lost)
    // the same complete-gen fallback readers resolve through, so the
    // one-cycle reader grace survives marker-loss recovery too
    val prev = markerGen(fs, dest).orElse(completeGens(fs, dest).lastOption)
    val g = (listGens(fs, dest) :+ 0L).max + 1
    val gen = genPath(dest, g)
    df.write.parquet(gen.toString) // immutable once complete; _SUCCESS is the witness
    val out = fs.create(markerPath(dest), true)
    try out.write(s"$g\n$MarkerEnd".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // prune: everything older than the PREVIOUS live gen (one cycle of
    // reader grace); orphans from crashed lands below prev go too
    val floor = prev.getOrElse(g)
    listGens(fs, dest).filter(_ < floor).foreach(o => fs.delete(genPath(dest, o), true))
  }

  /** Resolve the live root under the marker-commit protocol: the
    * marker's generation, else (torn/missing marker) the newest
    * COMPLETE generation. None = nothing complete yet — rebuild, never
    * a partial read.
    */
  def resolveMarked(spark: SparkSession, path: String): Option[String] = {
    val dest = new org.apache.hadoop.fs.Path(path)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    markerGen(fs, dest).orElse(completeGens(fs, dest).lastOption)
      .map(g => genPath(dest, g).toString)
  }
}
