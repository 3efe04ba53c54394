package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{BloomIndex, SnapshotLake}

/** The bloom index resolved from snapshot MANIFESTS (no directory walks):
  * build/refresh/lookup against any committed version, maintenance
  * proportional to write churn (files are immutable, so kept rows never
  * re-bloom), selectivity preserved across CoW rewrites and time travel.
  */
class SnapshotBloomSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("snapbloom").toFile.getAbsolutePath

  private def mkLake(dir: String, nFiles: Int): SnapshotLake = {
    val data = spark.range(20000).select(
      concat(lit("doc-"), col("id")).as("k"), (col("id") % 97).as("v"))
    val lake = new SnapshotLake(spark, s"$dir/lake", "k")
    // hash-distributed keys: min/max footers can't prune, blooms can
    lake.overwrite(data.repartition(nFiles, col("k")))
    lake
  }

  test("snapshot lookup: row-identical to readAt filter, opens far fewer files") {
    val lake = mkLake(tmp(), 16)
    val (kept, bloomed) = BloomIndex.refreshSnapshot(lake, "k")
    assert(kept == 0 && bloomed == 16, s"first refresh blooms every file, got ($kept, $bloomed)")

    val keys = Seq("doc-7", "doc-19999")
    val (rows, opened) = BloomIndex.lookupSnapshot(lake, "k", keys)
    val expect = lake.read.filter(col("k").isin(keys: _*))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows.collect().map(r => (r.getString(0), r.getLong(1))).toSet == expect)
    assert(expect.size == 2)
    assert(opened <= 4, s"expected <=4 of 16 files opened, got $opened")

    val (miss, openedMiss) = BloomIndex.lookupSnapshot(lake, "k", Seq("doc-999999"))
    assert(miss.count() == 0 && openedMiss <= 2,
      s"absent key should open ~0 files, got $openedMiss")
  }

  test("CoW upsert: unrefreshed lookup stays correct; refresh re-blooms only churn") {
    val lake = mkLake(tmp(), 8)
    BloomIndex.refreshSnapshot(lake, "k")
    val v1Files = lake.readManifest(1L).get.files.map(_.rel).toSet

    lake.upsert(Seq(("doc-7", 700L), ("doc-brand-new", 123L)).toDF("k", "v"))

    // BEFORE any refresh: the rewritten/new files are index-unknown ->
    // unconditional candidates; correct, just less selective
    val (rows, _) = BloomIndex.lookupSnapshot(lake, "k", Seq("doc-7", "doc-brand-new"))
    assert(rows.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("doc-7", 700L), ("doc-brand-new", 123L)))

    // refresh blooms ONLY the churned files: kept == carried v1 files
    val v2Files = lake.readManifest(2L).get.files.map(_.rel).toSet
    val carried = (v1Files intersect v2Files).size
    val (kept, bloomed) = BloomIndex.refreshSnapshot(lake, "k")
    // index retains rows for BOTH versions' live files (time travel);
    // churn = v2's new files only
    assert(bloomed == (v2Files -- v1Files).size,
      s"refresh must bloom exactly the new files, got $bloomed")
    assert(kept == v1Files.size, s"all immutable v1 rows kept, got $kept vs ${v1Files.size}")
    assert(carried > 0, "CoW must carry untouched files for this spec to mean anything")

    // post-refresh: selective again, post-upsert value served
    val (r2, opened2) = BloomIndex.lookupSnapshot(lake, "k", Seq("doc-7"))
    assert(r2.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("doc-7", 700L)))
    assert(opened2 <= 3, s"refreshed index should re-prune, opened $opened2")
  }

  test("time travel lookup: pre-upsert value at v1, pruned by the same index") {
    val lake = mkLake(tmp(), 8)
    BloomIndex.refreshSnapshot(lake, "k")
    lake.upsert(Seq(("doc-7", 700L)).toDF("k", "v"))
    BloomIndex.refreshSnapshot(lake, "k")

    val (now, _) = BloomIndex.lookupSnapshot(lake, "k", Seq("doc-7"))
    assert(now.select("v").as[Long].collect().toSeq == Seq(700L))
    val (old, openedOld) = BloomIndex.lookupSnapshot(lake, "k", Seq("doc-7"), at = Some(1L))
    assert(old.select("v").as[Long].collect().toSeq == Seq(7L % 97),
      "v1 lookup must serve the pre-upsert value")
    assert(openedOld <= 3, s"v1 lookup should prune too, opened $openedOld")
  }

  test("vacuum drops old versions; refresh sheds their index rows") {
    val lake = mkLake(tmp(), 8)
    BloomIndex.refreshSnapshot(lake, "k")
    lake.upsert(Seq(("doc-7", 700L)).toDF("k", "v"))
    BloomIndex.refreshSnapshot(lake, "k")
    val withHistory = spark.read.parquet(s"${lakePath(lake)}/_bloomidx").count()

    lake.vacuum(retainVersions = 1)
    BloomIndex.refreshSnapshot(lake, "k")
    val afterVacuum = spark.read.parquet(s"${lakePath(lake)}/_bloomidx").count()
    assert(afterVacuum == lake.readManifest(lake.latestVersion.get).get.files.size.toLong,
      "post-vacuum index covers exactly the retained version's files")
    assert(afterVacuum < withHistory, "vacuumed files' rows must fall out")

    val (rows, opened) = BloomIndex.lookupSnapshot(lake, "k", Seq("doc-7"))
    assert(rows.select("v").as[Long].collect().toSeq == Seq(700L) && opened <= 3)
  }

  // the lake's path is private[lake]; specs reach the sidecar via the
  // lake's own read (inputFiles live under <path>/data/)
  private def lakePath(lake: SnapshotLake): String = {
    val f = lake.read.inputFiles.head
    f.substring(0, f.lastIndexOf("/data/")).stripPrefix("file:")
  }
}
