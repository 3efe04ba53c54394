package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Work
import graft.lake.{ColStats, FileStats, SnapshotLake, ZoneMapIndex}

/** Range scans and stats aggregates served from the per-file column
  * stats each commit writes into the snapshot manifest: no refresh call
  * appears anywhere below.
  */
class ZoneMapIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def filesAt(lake: SnapshotLake, v: Long) = lake.readManifest(v).get.files.size

  /** The rows of `df` as strings, for set comparisons of any schema. */
  private def rowSet(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  /** min, max, count(*) and count(c) of `c` over `df`, as strings. */
  private def scanAgg(df: DataFrame, c: String): Seq[String] =
    df.agg(min(col(c)), max(col(c)), count(lit(1)), count(col(c))).collect().head.toSeq
      .map(String.valueOf)

  /** A clustered snapshot lake: v1 scatters keys across files, v2
    * sort-rewrites by `v` so each file covers a narrow value interval —
    * the layout zone maps exist to exploit.
    */
  private def mkLake(dir: String): SnapshotLake = {
    val data = spark.range(20000).select(
      col("id").as("k"), (col("id") % 1000).cast("double").as("v"))
    val lake = new SnapshotLake(spark, s"$dir/t", "k")
    lake.overwrite(data.repartition(16, col("k")))
    lake.cluster(Seq(col("v")), 16)
    lake
  }

  test("range lookup: row-identical to a full scan, opens few files on a clustered lake") {
    val dir = java.nio.file.Files.createTempDirectory("zm").toFile.getAbsolutePath
    val lake = mkLake(dir)
    val (rows, opened) = ZoneMapIndex.rangeLookupSnapshot(
      lake, "v", lit(100.0), lit(149.0))
    val expect = lake.read.filter(col("v") >= 100.0 && col("v") <= 149.0)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(rows.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet == expect)
    assert(expect.size == 20000 / 1000 * 50)
    // 5% of the value domain over 16 clustered files -> 1-2 files
    assert(opened <= 3, s"expected <=3 of 16+ files opened, got $opened")

    // empty range below the domain: zero files opened, zero rows
    val (miss, openedMiss) = ZoneMapIndex.rangeLookupSnapshot(
      lake, "v", lit(-10.0), lit(-1.0))
    assert(miss.count() == 0 && openedMiss == 0,
      s"out-of-domain range should prune everything, opened $openedMiss")
  }

  test("aggregateFromStats: metadata-only min/max/count == full scan, any version") {
    val dir = java.nio.file.Files.createTempDirectory("zmagg").toFile.getAbsolutePath
    val lake = mkLake(dir)
    val got = ZoneMapIndex.aggregateFromStats(lake, "v").collect().head
    val want = lake.read.agg(min(col("v")), max(col("v")),
      count(lit(1)), count(col("v"))).collect().head
    assert((got.getDouble(0), got.getDouble(1), got.getLong(2), got.getLong(3)) ==
      (want.getDouble(0), want.getDouble(1), want.getLong(2), want.getLong(3)))
    // a CoW upsert's new files carry their stats from the commit: the new
    // max is served with no other call
    lake.upsert(Seq((19999L, 5000.0)).toDF("k", "v"))
    val got2 = ZoneMapIndex.aggregateFromStats(lake, "v").collect().head
    assert(got2.getDouble(1) == 5000.0 && got2.getLong(2) == 20000L)
    // time travel: the pre-upsert version aggregates with its own stats
    val v0 = ZoneMapIndex.aggregateFromStats(lake, "v", at = Some(2L)).collect().head
    assert(v0.getDouble(1) == 999.0 && v0.getLong(2) == 20000L)
  }

  test("streaming snapshotSink: drops land with their stats, range scans stay pruned") {
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("zmsink").toString
    val lake = new SnapshotLake(spark, base + "/lake", "k")
    val feed = base + "/feed"
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType)))
    def runFeed(): Unit = {
      val q = graft.streaming.EventStreams.snapshotSink(lake)(
          spark.readStream.schema(schema).parquet(feed))
        .option("checkpointLocation", base + "/ckpt").start()
      q.awaitTermination()
    }
    spark.range(1000).select(col("id").as("k"), (col("id") % 100).cast("double").as("v"))
      .coalesce(4).write.mode("append").parquet(feed)
    runFeed()
    spark.range(1000, 1500).select(col("id").as("k"), lit(500.0).as("v"))
      .coalesce(1).write.mode("append").parquet(feed)
    runFeed() // checkpoint resume: only the second file is a new batch

    // both drops visible; the stats admit only interval-overlapping files
    // for a band exclusive to the SECOND drop
    val (rows, opened) = ZoneMapIndex.rangeLookupSnapshot(lake, "v", lit(500.0), lit(500.0))
    assert(rows.count() == 500)
    val files = lake.readManifest(lake.latestVersion.get).get.files
    assert(opened < files.size, s"stats must prune drop-1 files: opened=$opened of ${files.size}")
    val (miss, openedMiss) = ZoneMapIndex.rangeLookupSnapshot(lake, "v", lit(600.0), lit(700.0))
    assert(miss.count() == 0 && openedMiss == 0)
    // each micro-batch's commit wrote its files' stats
    assert(files.forall(_.stats.exists(_.cols.contains("v"))))
  }

  test("date and string columns: min/max bounds prune in the column's own type order") {
    // the 100 TB pruning axis is usually a DATE — zone rows are generic
    // Column min/max and range bounds are typed lits, so no numeric
    // assumption may creep into the stats or the overlap predicate
    val dir = java.nio.file.Files.createTempDirectory("zmdate").toFile.getAbsolutePath
    val data = spark.range(2000).select(col("id").as("k"),
      date_add(to_date(lit("1995-01-01")), (col("id") % 400).cast("int")).as("d"),
      concat(lit("cat"), lpad((col("id") % 26).cast("string"), 2, "0")).as("s"))
    val lake = new SnapshotLake(spark, s"$dir/t", "k")
    lake.overwrite(data.repartition(8, col("k")))
    lake.cluster(Seq(col("d")), 8)
    val nFiles = lake.readManifest(lake.latestVersion.get).get.files.size
    val (rows, opened) = ZoneMapIndex.rangeLookupSnapshot(lake, "d",
      to_date(lit("1995-02-01")), to_date(lit("1995-02-10")))
    assert(rows.count() == 50, "10 distinct dates x 5 rows each")
    assert(opened < nFiles, s"date stats must prune the clustered lake: $opened of $nFiles")
    val agg = ZoneMapIndex.aggregateFromStats(lake, "d").collect().head
    assert(agg.getDate(0).toString == "1995-01-01" &&
      agg.getDate(1).toString == "1996-02-04" && agg.getLong(2) == 2000L)
    // string column: lexicographic bounds, same machinery
    val (srows, _) = ZoneMapIndex.rangeLookupSnapshot(lake, "s", lit("cat03"), lit("cat05"))
    assert(srows.count() == data.filter(col("s").between("cat03", "cat05")).count())
  }

  test("all-null file: (null, null) bounds prune instead of crashing the scan") {
    val dir = java.nio.file.Files.createTempDirectory("zmnull").toFile.getAbsolutePath
    // range-partition on v (nulls first) -> partition 0 is ALL null: its
    // zone row carries (null, null) bounds, the round-13 advice crash site
    val data = spark.range(100).select(col("id").as("k"),
      when(col("id") < 50, lit(null).cast("double"))
        .otherwise((col("id") % 10).cast("double")).as("v"))
    val lake = new SnapshotLake(spark, s"$dir/t", "k")
    lake.overwrite(data.repartitionByRange(2, col("v")))
    val nFiles = lake.readManifest(lake.latestVersion.get).get.files.size
    assert(nFiles >= 2)
    // the scan must SURVIVE the null bounds and prune that file: a range
    // predicate never matches null values
    val (rows, opened) = ZoneMapIndex.rangeLookupSnapshot(lake, "v", lit(3.0), lit(4.0))
    assert(rows.count() == 10, "range rows must match the full-scan filter")
    assert(opened < nFiles, s"the all-null file must be pruned: opened=$opened of $nFiles")
    // and the out-of-domain probe still prunes everything
    val (miss, openedMiss) = ZoneMapIndex.rangeLookupSnapshot(lake, "v", lit(90.0), lit(99.0))
    assert(miss.count() == 0 && openedMiss == 0)
  }

  test("time travel: a range scan at an old version sees the old values") {
    val dir = java.nio.file.Files.createTempDirectory("zm3").toFile.getAbsolutePath
    val lake = mkLake(dir)
    val v2 = lake.latestVersion.get
    lake.upsert(Seq((5L, 9999.0)).toDF("k", "v")) // v3 moves k=5 out of range
    val (old, oldOpened) = ZoneMapIndex.rangeLookupSnapshot(
      lake, "v", lit(5.0), lit(5.0), at = Some(v2))
    assert(old.filter(col("k") === 5L).count() == 1,
      "time-travel lookup must resolve the OLD manifest's files")
    assert(oldOpened < filesAt(lake, v2), "the old version prunes with its own stats")
    val (now, _) = ZoneMapIndex.rangeLookupSnapshot(lake, "v", lit(5.0), lit(5.0))
    assert(now.filter(col("k") === 5L).count() == 0)
  }

  test("stats follow every commit op: scans match readAt, aggregates match scans, no job runs") {
    val dir = tmp("zmops")
    // a numeric, a date and a string column
    def rows(ids: org.apache.spark.sql.Dataset[_], v: org.apache.spark.sql.Column) =
      ids.select(col("id").as("k"), v.cast("double").as("v"),
        date_add(to_date(lit("2001-01-01")), (col("id") % 365).cast("int")).as("d"),
        concat(lit("s"), lpad((col("id") % 300).cast("string"), 3, "0")).as("s"))
    val lake = new SnapshotLake(spark, s"$dir/t", "k")
    val ranges = Seq(
      ("v", lit(100.0), lit(149.0)),
      ("d", to_date(lit("2001-03-01")), to_date(lit("2001-03-10"))),
      ("s", lit("s100"), lit("s120")))
    def check(op: String, clustered: Boolean): Unit = {
      val v = lake.latestVersion.get
      val files = lake.readManifest(v).get.files
      assert(files.forall(f => Seq("k", "v", "d", "s").forall(c =>
        f.stats.exists(_.cols.contains(c)))), s"$op: every file carries stats: $files")
      ranges.foreach { case (c, lo, hi) =>
        val ((got, opened), w) = Work.measure(spark.sparkContext, s"$op-range-$c")(
          ZoneMapIndex.rangeLookupSnapshot(lake, c, lo, hi))
        assert(w.jobs == 0, s"$op: choosing $c candidates ran ${w.jobs} jobs")
        assert(rowSet(got) == rowSet(lake.readAt(v).filter(col(c).between(lo, hi))),
          s"$op: $c rows")
        if (clustered && c == "v")
          assert(opened < files.size, s"$op: opened $opened of ${files.size} files")
        val (agg, wa) = Work.measure(spark.sparkContext, s"$op-agg-$c")(
          ZoneMapIndex.aggregateFromStats(lake, c))
        assert(wa.jobs == 0, s"$op: the $c aggregate ran ${wa.jobs} jobs")
        assert(agg.collect().head.toSeq.map(String.valueOf) == scanAgg(lake.readAt(v), c),
          s"$op: $c aggregate")
      }
    }
    lake.overwrite(rows(spark.range(4000), col("id") % 500).repartitionByRange(8, col("v")))
    check("overwrite", clustered = true)
    lake.append(rows(spark.range(4000, 4500), lit(450) + col("id") % 50).coalesce(1))
    check("append", clustered = true)
    lake.upsert(rows(spark.range(10), lit(120)))
    check("upsert", clustered = true)
    lake.deleteWhere(col("v") >= 300.0 && col("v") < 310.0)
    check("deleteWhere", clustered = true)
    // pack the three smallest files into one
    val lens = lake.readManifest(lake.latestVersion.get).get.files.map(_.len).sorted
    val (packed, produced) = lake.compact(smallBytes = lens(2) + 1)
    assert(packed >= 3 && produced == 1, (packed, produced))
    check("compact", clustered = true)
    lake.cluster(Seq(col("v")), 8)
    check("cluster", clustered = true)
  }

  test("missing stats are safe: stats-less manifests and long strings keep files candidates") {
    val dir = tmp("zmmissing")
    val lake = new SnapshotLake(spark, s"$dir/t", "k")
    // `t` runs past the 64-byte cap on string bounds, `u` stays under it
    lake.overwrite(spark.range(400).select(col("id").as("k"),
      floor(col("id") / 10).cast("double").as("v"),
      concat(lit("x" * 70), lpad(col("id").cast("string"), 3, "0")).as("t"),
      concat(lit("x" * 60), lpad(col("id").cast("string"), 3, "0")).as("u"))
      .repartitionByRange(4, col("k")))
    val v1 = lake.latestVersion.get
    val n = filesAt(lake, v1)
    val files = lake.readManifest(v1).get.files
    assert(files.forall(_.stats.exists(s => !s.cols.contains("t") && s.cols.contains("u"))))
    def probe(c: String, lo: Any, hi: Any, at: Long) = {
      val (rows, opened) = ZoneMapIndex.rangeLookupSnapshot(lake, c, lit(lo), lit(hi), Some(at))
      assert(rowSet(rows) == rowSet(lake.readAt(at).filter(col(c).between(lo, hi))))
      opened
    }
    assert(probe("t", "x" * 70 + "010", "x" * 70 + "020", v1) == n,
      "a column without stats leaves every file a candidate")
    assert(probe("u", "x" * 60 + "010", "x" * 60 + "020", v1) < n)
    intercept[IllegalStateException](ZoneMapIndex.aggregateFromStats(lake, "t"))

    // the same files under a manifest with no stats lines, as one was
    // written before manifests carried them
    val m = lake.readManifest(v1).get
    val v2 = v1 + 1
    val text = s"version=$v2\nop=append\nts=${m.ts}\nbase=$v1\nschema=${m.schema.json}\n" +
      m.files.map(f => s"f ${f.len} ${f.rel}\n").mkString + "end\n"
    val out = fs.create(new org.apache.hadoop.fs.Path(f"$dir/t/_snap/v$v2%08d.manifest"))
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
    assert(lake.latestVersion.contains(v2))
    assert(lake.readManifest(v2).get.files.map(f => (f.rel, f.len, f.stats)) ==
      m.files.map(f => (f.rel, f.len, None)))
    assert(probe("v", 3.0, 4.0, v2) == n, "a file without stats is always a candidate")
    val ex = intercept[IllegalStateException](ZoneMapIndex.aggregateFromStats(lake, "v"))
    assert(ex.getMessage.contains("'v'") && ex.getMessage.contains(s"v$v2"), ex.getMessage)
    // the version before still prunes and aggregates with its own stats
    assert(probe("v", 3.0, 4.0, v1) < n)
    assert(ZoneMapIndex.aggregateFromStats(lake, "v", Some(v1)).collect().head.getLong(2) == 400L)
  }

  test("manifest stats lines round-trip names and bounds with spaces, colons and newlines") {
    val stats = FileStats(7L, Map(
      "plain" -> ColStats(0L, Some(("-1", "12"))),
      "a b:c" -> ColStats(2L, Some(("", "x:y z\n%+"))),
      "ñ" -> ColStats(7L, None)))
    val line = FileStats.render(stats)
    assert(line.startsWith("s 7 ") && !line.contains("\n"))
    assert(FileStats.parse(line).contains(stats))
    assert(FileStats.parse("s 7 plain:0:1").isEmpty, "a malformed line parses to no stats")
  }

  private def fs = new org.apache.hadoop.fs.Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)
}
