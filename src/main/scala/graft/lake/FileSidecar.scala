package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructType}

/** The rule [[BloomIndex]]'s directory and snapshot sidecars follow. A
  * sidecar holds one row per data file, keyed by (file, len): `file` is
  * the file's path relative to the table root, `len` its length when the
  * row was computed.
  *
  *  - A row is carried verbatim while its file is live at that length;
  *    rows of vanished or rewritten files drop out at the next landing.
  *  - Rows are computed only for the uncovered files (live, with no row
  *    at their length), so maintenance follows write churn, not lake size.
  *  - An uncovered file is always a read candidate: a lagging sidecar
  *    costs selectivity, never rows.
  *
  * The relative key keeps a sidecar's bytes independent of where the lake
  * lives, and a lake moved together with its sidecars stays covered.
  */
private[lake] object FileSidecar {

  /** A live data file: `file` keys its sidecar row, `uri` is the
    * qualified URI `input_file_name()` reports for it, `len` its length.
    */
  final case class LiveFile(file: String, uri: String, len: Long)

  /** A snapshot's files: each key is the manifest's relative path. */
  def ofManifest(lake: SnapshotLake, files: Seq[SnapshotLake.FileEntry]): Seq[LiveFile] = {
    val root = new Path(lake.path)
    val fs = root.getFileSystem(lake.spark.sparkContext.hadoopConfiguration)
    files.map(f => LiveFile(f.rel, fs.makeQualified(new Path(root, f.rel)).toUri.toString, f.len))
  }

  /** A directory table's listed files (qualified path, length): each key
    * is the decoded path below `root`.
    */
  def ofListing(spark: SparkSession, root: String, files: Seq[(Path, Long)]): Seq[LiveFile] = {
    val r = new Path(root)
    val prefix = r.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(r).toUri.getPath + "/"
    files.map { case (p, len) => LiveFile(p.toUri.getPath.stripPrefix(prefix), p.toUri.toString, len) }
  }

  private def exists(spark: SparkSession, idxPath: String): Boolean = {
    val p = new Path(idxPath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** A sidecar's rows under their fixed schema: no job infers it. */
  private def read(spark: SparkSession, idxPath: String): DataFrame =
    spark.read.schema(new StructType().add("file", StringType).add("bloom", BinaryType)
      .add("nkeys", LongType).add("len", LongType)).parquet(idxPath)

  /** (file, len) of `live`: a local relation, joined without a scan. */
  def keys(spark: SparkSession, live: Seq[LiveFile]): DataFrame = {
    import spark.implicits._
    live.map(f => (f.file, f.len)).toDF("file", "len")
  }

  /** The live files with no sidecar row at their length, ordered by key;
    * every live file when the sidecar is absent. The anti-join runs next
    * to the sidecar, so only churn-sized keys reach the driver.
    */
  def uncovered(spark: SparkSession, idxPath: String, live: Seq[LiveFile]): Seq[LiveFile] =
    if (!exists(spark, idxPath)) live.sortBy(_.file)
    else {
      import spark.implicits._
      val byKey = live.map(f => f.file -> f).toMap
      keys(spark, live)
        .join(read(spark, idxPath).select("file", "len"), Seq("file", "len"), "left_anti")
        .select("file").as[String].collect().toSeq.sorted.map(byKey)
    }

  /** `rows` computed by a scan of `files`, whose `file` column holds
    * `input_file_name()`, as sidecar rows: `file` becomes the key and
    * each row gets its file's `len` as the last column.
    */
  def keyed(rows: DataFrame, files: Seq[LiveFile]): DataFrame = {
    import rows.sparkSession.implicits._
    val payload = rows.columns.toSeq.filter(_ != "file").map(col)
    rows.withColumnRenamed("file", "uri").join(files.toDF(), "uri")
      .select(col("file") +: payload :+ col("len"): _*)
  }

  /** Land at `idxPath`, in one staged write, the sidecar's rows of files
    * live at their length (carried verbatim) and `rebuilt`; returns
    * (kept, rebuilt) rows as observed on that write. Nothing is carried
    * when the sidecar is absent or `live` is empty.
    */
  def landCarried(idxPath: String, live: Seq[LiveFile], rebuilt: DataFrame): (Long, Long) = {
    val spark = rebuilt.sparkSession
    val kept =
      if (live.isEmpty || !exists(spark, idxPath)) rebuilt.limit(0)
      else {
        // a join condition, not using-columns: those would move `len` to
        // the front of the carried rows and so of the landed schema
        val (old, lens) = (read(spark, idxPath), keys(spark, live))
        old.join(lens, old("file") === lens("file") && old("len") === lens("len"), "left_semi")
      }
    // a crash leaves the old sidecar, the new one, or none — and none
    // only makes every file a candidate
    ChurnSplit.landRows(spark, idxPath, kept, rebuilt)
  }

  /** The rows of `files` under `schema` (none: an empty frame). The base
    * path keeps a directory table's partition columns derivable from its
    * leaf files.
    */
  def scan(spark: SparkSession, schema: StructType, root: String,
           files: Seq[LiveFile]): DataFrame =
    if (files.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.option("basePath", root).schema(schema).parquet(readablePaths(files): _*)

  /** URIs fed back into spark.read would be parsed as PATH strings,
    * double percent-encoding any escaped character: a lake under
    * '/my lake' lists as 'my%20lake', and a naive read resolves a literal
    * 'my%20lake' dir. Going through java.net.URI gives the decoded path.
    */
  private def readablePaths(files: Seq[LiveFile]): Seq[String] =
    files.map(f => new Path(new java.net.URI(f.uri)).toString)

  /** The rows of `live` that pass `filter`, opening only the candidate
    * files; returns (rows, filesOpened).
    *
    * The candidate pass is one Spark job: it evaluates `hit` on every
    * sidecar row and collects (file, len, hit) — bytes per file, never
    * the bloom. The driver keeps a live file when a row at its length
    * hits, or when it has no row at its length. A null hit does not; a
    * duplicated row cannot open a file twice.
    */
  def prunedScan(spark: SparkSession, idxPath: String, root: String, schema: StructType,
                 live: Seq[LiveFile], hit: Column, filter: Column): (DataFrame, Int) = {
    import spark.implicits._
    val candidates =
      if (!exists(spark, idxPath)) live
      else {
        val hits = read(spark, idxPath)
          .select(col("file"), col("len"), coalesce(hit, lit(false)))
          .as[(String, Long, Boolean)].collect()
          .groupMapReduce(h => (h._1, h._2))(_._3)(_ || _)
        live.filter(f => hits.getOrElse((f.file, f.len), true))
      }
    (scan(spark, schema, root, candidates).filter(filter), candidates.size)
  }
}
