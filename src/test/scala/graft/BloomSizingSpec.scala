package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{BloomIndex, LakeTable, SnapshotLake}

/** Each file's bloom filter is sized from its own row count: on files of
  * 1,250 and 5,000 keys the serialized filters sit near the optimal size
  * for (rows, 0.1%) rather than at one fixed size, keep the 0.1%
  * false-positive rate, and lookups stay row-identical to a scan — on
  * the directory tier and the snapshot tier alike.
  */
class BloomSizingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp() =
    java.nio.file.Files.createTempDirectory("bloomsize").toFile.getAbsolutePath

  /** Two data files: doc-0 .. doc-1249 and doc-1250 .. doc-6249 (an RDD
    * union keeps its inputs' partitions, one per file).
    */
  private def twoFiles: DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    sc.range(0, 1250, numSlices = 1).union(sc.range(1250, 6250, numSlices = 1)).toDF("id")
      .select(concat(lit("doc-"), col("id")).as("k"), (col("id") % 97).as("v"))
  }

  private val absent = {
    val rnd = new scala.util.Random(20261019L)
    Seq.fill(10000)("absent-" + rnd.nextLong())
  }

  private val probe = Seq("doc-3", "doc-1249", "doc-1250", "doc-6249", "doc-99999")

  private def rowSet(df: DataFrame): Set[(String, Long)] =
    df.collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("v"))).toSet

  /** Every sidecar row: size within 10% of optimal for its row count, no
    * false negative on its own keys, measured fpp <= 0.003 on 10,000
    * absent keys.
    */
  private def checkSizing(sidecar: String): Unit = {
    val rows = spark.read.parquet(sidecar).select("nkeys", "bloom").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    assert(rows.map(_._1).sorted.toSeq == Seq(1250L, 5000L))
    rows.foreach { case (n, bytes) =>
      val optimal = BloomFilter.optimalNumOfBits(n, 0.001) / 8.0
      assert(math.abs(bytes.length - optimal) <= 0.1 * optimal,
        s"$n-key filter is ${bytes.length} B, optimal ${optimal.toLong} B")
      val bf = BloomFilter.readFrom(bytes)
      val lo = if (n == 1250L) 0L else 1250L
      assert((lo until lo + n).forall(i => bf.mightContainString(s"doc-$i")))
      val fpr = absent.count(bf.mightContainString).toDouble / absent.size
      assert(fpr <= 0.003, s"$n-key filter: measured fpp $fpr on ${absent.size} absent keys")
    }
  }

  test("directory tier: each file's filter is sized from its rows, fpp holds") {
    val path = s"${tmp()}/t"
    val t = new LakeTable(spark, path, "k")
    t.overwrite(twoFiles)
    assert(t.buildBloomIndex() == 2)
    checkSizing(path + ".bloomidx")
    val (rows, opened) = t.lookupKeys(probe)
    assert(rowSet(rows) == rowSet(t.read.filter(col("k").isin(probe: _*))))
    assert(rowSet(rows).size == 4 && opened <= 2)
  }

  test("snapshot tier: each file's filter is sized from its rows, fpp holds") {
    val lake = new SnapshotLake(spark, s"${tmp()}/lake", "k")
    lake.overwrite(twoFiles)
    assert(BloomIndex.refreshSnapshot(lake, "k") == (0L, 2L))
    checkSizing(BloomIndex.snapSidecar(lake.path))
    val (rows, opened) = BloomIndex.lookupSnapshot(lake, "k", probe)
    assert(rowSet(rows) == rowSet(lake.read.filter(col("k").isin(probe: _*))))
    assert(rowSet(rows).size == 4 && opened <= 2)
  }
}
