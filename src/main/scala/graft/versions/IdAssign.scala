package graft.versions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Sequential surrogate-id assignment (SURVEY §2.6 W1 — the one genuinely
  * custom physical concern).
  *
  * The reference assigns ids serially in a driver loop (`id_num + 1`,
  * reference: read_parquet.py:108-110); its deprecated PySpark path used
  * `row_number().over(Window.orderBy(lit('A')))` — a single-partition
  * global sort that cannot scale (reference:
  * OLD/read_parquet_spark.py.deprecated:127-128).
  *
  * Here: range-partition by the ordering key, sort within partitions,
  * count each partition in one job, and number each partition from the
  * sum of the counts before it — range partitioning makes partition
  * order = global order, so the result is contiguous ids in key order
  * with NO single-partition stage, and the counts' sum is the number of
  * ids handed out. For a unique ordering key the numbering is
  * deterministic under retries (ties would be boundary-dependent —
  * callers must order by a key).
  *
  * Contiguity is load-bearing: the id space is partitioned by group
  * (insiders/outsiders from 0, minors from 10M — ntp_constants.py:23-27),
  * so each group is numbered independently from its own watermark.
  */
object IdAssign {

  /** Append a contiguous `seq` column = startFrom, startFrom+1, ... in
    * ascending `orderCol` order. Returns the numbered frame and its row
    * count, read off the partition-count job the numbering runs anyway.
    */
  def assignSequential(df: DataFrame, orderCol: String, startFrom: Long,
                       numPartitions: Option[Int] = None): (DataFrame, Long) = {
    val spark = df.sparkSession
    val parts = numPartitions.getOrElse(spark.sessionState.conf.numShufflePartitions)
    val sorted = df.repartitionByRange(parts, col(orderCol)).sortWithinPartitions(orderCol)
    val schema = sorted.schema.add("seq", LongType, nullable = false)
    val rows = sorted.rdd
    val counts = spark.sparkContext.runJob(rows,
      (it: Iterator[Row]) => it.foldLeft(0L)((n, _) => n + 1))
    val offsets = counts.scanLeft(startFrom)(_ + _)
    val rdd = rows.mapPartitionsWithIndex { (p, it) =>
      it.zip(Iterator.iterate(offsets(p))(_ + 1)).map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
    }
    (spark.createDataFrame(rdd, schema), counts.sum)
  }
}
