package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.Staged

class StagedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp() = java.nio.file.Files.createTempDirectory("staged").toString

  test("land returns the rows it landed, for empty frames of every shape too") {
    val root = tmp()
    val schema = StructType(Seq(StructField("id", LongType)))
    val frames = Seq(
      "rows" -> (spark.range(37).toDF(), 37L),
      "grouped" -> (spark.range(100).groupBy((col("id") % 7).as("g")).count(), 7L),
      "local-empty" -> (Seq.empty[Long].toDF("id"), 0L),
      "limit-0" -> (spark.range(5).toDF().limit(0), 0L),
      "no-partitions" -> (spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema), 0L),
      "filtered-out" -> (spark.range(5).filter(col("id") < 0).toDF(), 0L))
    for ((name, (df, n)) <- frames) {
      val t0 = System.nanoTime()
      assert(Staged.land(spark, s"$root/$name", df) == n, name)
      assert((System.nanoTime() - t0) / 1e9 < 30, s"$name: the count must not wait out its bound")
      assert(spark.read.parquet(s"$root/$name").count() == n, name)
    }
    val many = Staged.landMany(spark, s"$root/many", Seq(
      "empty" -> spark.range(5).filter(col("id") < 0).toDF(), "rows" -> spark.range(37).toDF()))
    assert(many == Map("empty" -> 0L, "rows" -> 37L))
    assert(spark.read.parquet(s"$root/many/rows").count() == 37L)
  }

  test("landMany raises a failed table only after its sibling's write ended; a retry lands exactly its tables") {
    val dir = tmp()
    val root = s"$dir/idx"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val slowly = udf((i: Long) => { if (i == 0L) Thread.sleep(3000); i })
    val slow = spark.range(4).repartition(1).select(slowly(col("id")).as("x"))
    val bad = spark.range(4).select(expr("raise_error('table dies')").as("x"))
    val err = intercept[Exception](Staged.landMany(spark, root, Seq("bad" -> bad, "slow" -> slow)))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("table dies")), s"got $err")
    assert(fs.exists(new Path(s"$dir/.idx.staging/slow/_SUCCESS")),
      "the sibling's write must have ended before landMany raised")
    assert(!fs.exists(new Path(root)), "a failed landing publishes nothing")
    Staged.landMany(spark, root, Seq("a" -> spark.range(3).toDF(), "b" -> spark.range(5).toDF()))
    assert(fs.listStatus(new Path(root)).map(_.getPath.getName).toSet == Set("a", "b"))
    assert(spark.read.parquet(s"$root/a").count() == 3L && spark.read.parquet(s"$root/b").count() == 5L)
  }
}
