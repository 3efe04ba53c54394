package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Work
import graft.lake.{BloomIndex, LakeTable, SnapshotLake, ZoneMapIndex}

/** The (file, len) rule of the bloom sidecars (directory and snapshot
  * tiers): rows are keyed by the table-relative path, so a lake moved with
  * its sidecars stays covered (as do the range scans pruned by its
  * manifest's stats); a refresh lands the same rows as a rebuild; and each
  * candidate pass is one Spark job over the sidecar alone.
  */
class FileSidecarSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def docs(n: Int): DataFrame = spark.range(n).select(
    concat(lit("doc-"), col("id")).as("k"), (col("id") % 97).cast("double").as("v"))

  /** (file, len, nkeys, bloom) of every row of a bloom sidecar. */
  private def bloomRows(side: String): Set[(String, Long, Long, Seq[Byte])] =
    spark.read.parquet(side).collect().map(r => (r.getAs[String]("file"),
      r.getAs[Long]("len"), r.getAs[Long]("nkeys"), r.getAs[Array[Byte]]("bloom").toSeq)).toSet

  private def fileColumn(side: String): Seq[String] =
    spark.read.parquet(side).select("file").as[String].collect().toSeq.sorted

  test("sidecars key files by table-relative path: a moved lake stays covered") {
    val root = s"${tmp("sidecarmove")}/my lake"
    // a partition value Spark escapes in its directory name ('/') and one
    // the URI form escapes (' ')
    val t = new LakeTable(spark, s"$root/t", "k", partitionCols = Seq("grp"))
    t.overwrite(docs(4000).withColumn("grp",
      when(col("v") < 50, lit("a/b")).otherwise(lit("c d"))).repartition(4, col("k")))
    t.buildBloomIndex()
    val lake = new SnapshotLake(spark, s"$root/lake", "k")
    lake.overwrite(docs(4000).repartitionByRange(8, col("v")))
    BloomIndex.refreshSnapshot(lake, "k")

    // the same lake, sidecars included, under a longer directory name
    val moved = s"${tmp("sidecarmove")}/my moved lake copy"
    assert(FileUtil.copy(fs, new Path(root), fs, new Path(moved), false,
      spark.sparkContext.hadoopConfiguration))
    val t2 = new LakeTable(spark, s"$moved/t", "k", partitionCols = Seq("grp"))
    val lake2 = new SnapshotLake(spark, s"$moved/lake", "k")

    // served from the copied sidecars as they are: no refresh
    def probe(tt: LakeTable, l: SnapshotLake): Seq[(Long, Int)] = Seq(
      tt.lookupKeys(Seq("doc-7")), BloomIndex.lookupSnapshot(l, "k", Seq("doc-7")),
      ZoneMapIndex.rangeLookupSnapshot(l, "v", lit(3.0), lit(4.0)))
      .map { case (df, opened) => (df.count(), opened) }
    val here = probe(t, lake)
    assert(here.map(_._1) == Seq(1L, 1L, lake.read.filter(col("v").between(3.0, 4.0)).count()))
    assert(here.forall(_._2 < 4), s"the original lake must prune: $here")
    assert(probe(t2, lake2) == here, "the moved lake must open exactly as many files")

    // a refresh of the copy finds nothing to rebuild and lands the same keys
    assert(t2.refreshBloomIndex()._2 == 0L)
    assert(BloomIndex.refreshSnapshot(lake2, "k")._2 == 0L)
    Seq("t.bloomidx", "lake/_bloomidx").foreach { s =>
      assert(fileColumn(s"$moved/$s") == fileColumn(s"$root/$s"), s)
      assert(spark.read.parquet(s"$moved/$s").columns.toSeq ==
        Seq("file", "bloom", "nkeys", "len"), s)
    }
    // a snapshot sidecar's key is the manifest's own relative path
    val rels = lake.readManifest(lake.latestVersion.get).get.files.map(_.rel).sorted
    assert(fileColumn(s"$root/lake/_bloomidx") == rels)
  }

  test("directory tier: refresh after a partition-scoped upsert equals a rebuild") {
    val dir = tmp("sidecarparity")
    val t = new LakeTable(spark, s"$dir/t", "k", partitionCols = Seq("grp"))
    t.overwrite(docs(8000).withColumn("grp", (col("v") % 2).cast("string"))
      .repartition(4, col("k")))
    t.buildBloomIndex()
    t.upsert(Seq(("doc-new", 1.0, "1")).toDF("k", "v", "grp"))
    val (kept, rebuilt) = t.refreshBloomIndex()
    assert(kept > 0 && rebuilt > 0, (kept, rebuilt))
    val refreshed = bloomRows(s"$dir/t.bloomidx")
    fs.delete(new Path(s"$dir/t.bloomidx"), true)
    t.buildBloomIndex()
    assert(refreshed == bloomRows(s"$dir/t.bloomidx"))
  }

  test("snapshot tier: refresh after a CoW upsert and a vacuum equals a rebuild") {
    val lake = new SnapshotLake(spark, s"${tmp("sidecarparity")}/lake", "k")
    lake.overwrite(docs(8000).repartition(8, col("k")))
    BloomIndex.refreshSnapshot(lake, "k")
    lake.upsert(Seq(("doc-7", 700.0), ("doc-new", 1.0)).toDF("k", "v"))
    BloomIndex.refreshSnapshot(lake, "k")
    lake.vacuum(retainVersions = 1)
    val (kept, rebuilt) = BloomIndex.refreshSnapshot(lake, "k")
    assert(kept > 0 && rebuilt == 0L, (kept, rebuilt))
    val side = BloomIndex.snapSidecar(lake.path)
    val refreshed = bloomRows(side)
    fs.delete(new Path(side), true)
    BloomIndex.refreshSnapshot(lake, "k")
    assert(refreshed == bloomRows(side))
  }

  test("each candidate pass is one Spark job and opens no data file") {
    val dir = tmp("sidecarjobs")
    val t = new LakeTable(spark, s"$dir/t", "k")
    t.overwrite(docs(4000).repartition(4, col("k")))
    t.buildBloomIndex()
    val lake = new SnapshotLake(spark, s"$dir/lake", "k")
    lake.overwrite(docs(4000).repartitionByRange(4, col("v")))
    BloomIndex.refreshSnapshot(lake, "k")
    // a call reads no data file when its input bytes are at most those
    // of a full read of its sidecar
    def work(name: String, sidecar: String)(call: => (DataFrame, Int)) = {
      val (_, w) = Work.measure(spark.sparkContext, name)(call)
      val (_, full) = Work.measure(spark.sparkContext, sidecar)(
        spark.read.parquet(sidecar).collect())
      (name, w.jobs, w.inputB <= full.inputB, w)
    }
    val passes = Seq(
      work("lookup", s"$dir/t.bloomidx")(t.lookupKeys(Seq("doc-7"))),
      work("lookupSnapshot", BloomIndex.snapSidecar(lake.path))(
        BloomIndex.lookupSnapshot(lake, "k", Seq("doc-7"))))
    assert(passes.forall(p => p._2 == 1 && p._3), passes)
  }
}
