package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.LakeTable

class BloomIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mkLake(dir: String, nFiles: Int): LakeTable = {
    val data = spark.range(20000).select(
      concat(lit("doc-"), col("id")).as("k"),
      (col("id") % 97).as("v"))
    val t = new LakeTable(spark, s"$dir/t", "k")
    // hash-distributed keys across files: min/max footers can't prune this
    t.overwrite(data.repartition(nFiles, col("k")))
    t
  }

  test("bloom lookup: row-identical to a full scan, opens far fewer files") {
    val dir = java.nio.file.Files.createTempDirectory("bloom").toFile.getAbsolutePath
    val t = mkLake(dir, 16)
    val nIndexed = t.buildBloomIndex()
    assert(nIndexed == 16, s"one index row per data file, got $nIndexed")

    val keys = Seq("doc-7", "doc-19999")
    val (rows, opened) = t.lookupKeys(keys)
    val expect = t.read.filter(col("k").isin(keys: _*))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows.collect().map(r => (r.getString(0), r.getLong(1))).toSet == expect)
    assert(expect.size == 2)
    // 2 keys hash to <=2 files; 0.1% fpp over 16 files adds ~0 more
    assert(opened <= 4, s"expected <=4 of 16 files opened, got $opened")

    // absent key: nothing opened (or a rare fpp hit), zero rows
    val (miss, openedMiss) = t.lookupKeys(Seq("doc-999999"))
    assert(miss.count() == 0)
    assert(openedMiss <= 2, s"absent key should open ~0 files, got $openedMiss")
  }

  test("bloom lookup stays correct when files change after the build") {
    val dir = java.nio.file.Files.createTempDirectory("bloom2").toFile.getAbsolutePath
    val t = mkLake(dir, 8)
    t.buildBloomIndex()
    // land a key the index has never seen
    t.upsert(Seq(("doc-new", 123L)).toDF("k", "v"))
    val (rows, opened) = t.lookupKeys(Seq("doc-new"))
    assert(rows.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("doc-new", 123L)))
    // the post-upsert files are index-unknown -> unconditional candidates,
    // so the lookup is correct without a rebuild (just less selective)
    assert(opened >= 1)
    // a rebuild restores selectivity
    t.buildBloomIndex()
    val (rows2, opened2) = t.lookupKeys(Seq("doc-new"))
    assert(rows2.count() == 1 && opened2 <= 3,
      s"rebuilt index should re-prune, opened $opened2")
  }

  test("refresh re-blooms only churned files; kept rows' bloom bytes are identical") {
    val dir = java.nio.file.Files.createTempDirectory("bloom4").toFile.getAbsolutePath
    val data = spark.range(8000).select(
      concat(lit("doc-"), col("id")).as("k"),
      (col("id") % 2).cast("string").as("grp"), col("id").as("v"))
    val t = new LakeTable(spark, s"$dir/t", "k", partitionCols = Seq("grp"))
    t.overwrite(data.repartition(4, col("k")))
    t.buildBloomIndex()
    def idxRows() = spark.read.parquet(s"$dir/t.bloomidx")
      .collect().map(r => (r.getAs[String]("file"),
        r.getAs[Array[Byte]]("bloom").toSeq, r.getAs[Long]("nkeys"))).toSet
    val before = idxRows()

    // partition-scoped upsert: only grp=1 files change
    t.upsert(Seq(("doc-new", "1", 9999L)).toDF("k", "grp", "v"))
    val (kept, rebuilt) = t.refreshBloomIndex()
    // the untouched partition's rows survive EXACTLY: one kept row per
    // grp=0 file, byte-identical to the old index
    val grp0Files = before.count(_._1.contains("grp=0"))
    assert(kept == grp0Files && kept > 0, s"kept=$kept, grp0 files=$grp0Files")
    val after = idxRows()
    assert(after.intersect(before).size.toLong == kept)
    assert(rebuilt == after.size - kept && rebuilt > 0,
      s"rebuilt=$rebuilt should cover exactly the churned files")
    // the cluster-side anti-join diff picks EXACTLY the churned files:
    // every rebuilt row is a grp=1 file (the upserted partition), every
    // grp=0 row was carried — identical sets to the old driver-map diff
    val rebuiltFiles = after.diff(before).map(_._1)
    assert(rebuiltFiles.nonEmpty && rebuiltFiles.forall(_.contains("grp=1")),
      s"rebuilt set must be exactly the churned partition's files: $rebuiltFiles")
    // and the refreshed index serves both old and new keys selectively
    val (r1, o1) = t.lookupKeys(Seq("doc-7"))
    assert(r1.count() == 1 && o1 <= 3)
    val (r2, o2) = t.lookupKeys(Seq("doc-new"))
    assert(r2.count() == 1 && o2 <= 3, s"opened $o2 after refresh")
  }

  test("bloom lookup prunes partition dirs' files and keeps partition columns") {
    val dir = java.nio.file.Files.createTempDirectory("bloom3").toFile.getAbsolutePath
    val data = spark.range(4000).select(
      concat(lit("id-"), col("id")).as("k"),
      (col("id") % 4).cast("string").as("grp"),
      col("id").as("v"))
    val t = new LakeTable(spark, s"$dir/t", "k", partitionCols = Seq("grp"))
    t.overwrite(data.repartition(4, col("k")))
    t.buildBloomIndex()
    val (rows, opened) = t.lookupKeys(Seq("id-42"))
    val got = rows.select("k", "grp", "v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(("id-42", "2", 42L)))
    val total = t.read.inputFiles.length
    assert(opened < total, s"opened $opened of $total")
  }
}
