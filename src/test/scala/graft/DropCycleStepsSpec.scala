package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{MaterializedAgg, SnapshotLake}
import graft.pipeline.DropCycle

/** The concurrent post-commit steps of [[DropCycle.run]]: a failing tier
  * is raised only once every other tier has finished, the re-run
  * contract holds across such a failure, and tiers may not share paths.
  */
class DropCycleStepsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val drop = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", 0L),
      (2L, "the quick brown fox jumps over the lazy dogs", 0L),
      (3L, "completely different text about spark engines", 1L))
    .toDF("_id", "text", "grp").withColumn("_id", col("_id").cast("string"))

  private def conf(root: String, dsirTarget: Column = col("grp") === 0L) = DropCycle.Config(
    textCol = Some("text"),
    bandIdxPath = Some(root + "/bandidx"),
    postingsPath = Some(root + "/bm25idx"),
    summary = Some((MaterializedAgg.Spec(Seq("grp"),
      sums = Seq("chars" -> length(col("text")).cast("long"))), root + "/summary")),
    hll = Some((Seq("grp"), "_id", root + "/hll")),
    topk = Some((Nil, "grp", 8, root + "/topk")),
    lmPath = Some(root + "/lm"),
    dsir = Some((dsirTarget, root + "/dsir")))

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("a failing tier is raised after every other tier finished; the re-run reports as after a clean cycle") {
    val clean = Files.createTempDirectory("cycle-clean").toString
    val cleanLake = new SnapshotLake(spark, clean + "/lake", "_id")
    DropCycle.run(cleanLake, drop, conf(clean))
    val cleanRerun = DropCycle.run(cleanLake, drop, conf(clean))

    val root = Files.createTempDirectory("cycle-fail").toString
    val lake = new SnapshotLake(spark, root + "/lake", "_id")
    // the LM tier's root is occupied by a plain file: its segment
    // landing fails at once, while other tiers are still running...
    Files.write(java.nio.file.Paths.get(root, "lm"), "not a directory".getBytes)
    // ...and the DSIR tier, later in step order, is slowed down on
    // purpose (the same predicate, evaluated slowly)
    val slowTarget = udf((grp: Long) => { Thread.sleep(5000); grp == 0L })
    val err = intercept[Exception](DropCycle.run(lake, drop, conf(root, slowTarget(col("grp")))))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains(root + "/lm")), s"got $err")
    for (tier <- Seq("bandidx", "bm25idx/doclen", "summary", "hll", "topk", "dsir", "lake/_bloomidx"))
      assert(spark.read.parquet(s"$root/$tier").count() > 0L,
        s"$tier must have landed before the failure was raised")

    fs.delete(new Path(root, "lm"), false)
    assert(DropCycle.run(lake, drop, conf(root)) == cleanRerun)
  }

  test("run refuses tiers whose paths nest, before it lands anything") {
    val root = Files.createTempDirectory("cycle-nest").toString
    val lake = new SnapshotLake(spark, root + "/lake", "_id")
    val nested = conf(root).copy(postingsPath = Some(root + "/bandidx/postings"))
    val err = intercept[IllegalArgumentException](DropCycle.run(lake, drop, nested))
    assert(err.getMessage.contains("band") && err.getMessage.contains("postings"), err.getMessage)
    assert(lake.latestVersion.isEmpty, "nothing may be committed")
  }

  test("embeddings tier paths are checked without running a tier") {
    val root = Files.createTempDirectory("cycle-emb").toString
    DropCycle.requireEmbeddingPaths(spark, root + "/simidx",
      pca = Some((root + "/pca", 4, "d1")), pqIndexPath = Some(root + "/pqidx"))
    val err = intercept[IllegalArgumentException](DropCycle.requireEmbeddingPaths(spark,
      root + "/simidx", pca = Some((root + "/simidx/pca", 4, "d1"))))
    assert(err.getMessage.contains("simidx") && err.getMessage.contains("pca"), err.getMessage)
    assert(fs.listStatus(new Path(root)).isEmpty, "nothing may be written")
  }
}
