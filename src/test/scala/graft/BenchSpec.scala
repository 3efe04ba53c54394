package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** A failed bench query is reported as an error and left out of the
  * timings and the totals, never timed at its few ms of plan building.
  */
class BenchSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("timeQueries reports a broken query as an error and excludes it") {
    val queries = Seq[(String, (SparkSession, String) => DataFrame)](
      "ok_query" -> ((s, _) => s.range(10).toDF("id")),
      "broken_query" -> ((s, _) => s.range(10).selectExpr("no_such_column")),
      "ok_too" -> ((s, _) => s.range(5).toDF("id")))
    var between = 0
    val timed = Bench.timeQueries(spark, "/unused", queries, passes = 2) { between += 1 }
    assert(between == 6, "the between-query hook runs after every query, failed ones too")
    assert(timed.errors.map(_._1) == Seq("broken_query"))
    assert(timed.errors.head._2.contains("AnalysisException"), timed.errors.head._2)
    assert(timed.best.map(_._1) == Seq("ok_query", "ok_too"))
    assert(timed.passes.size == 2 && timed.passes.forall(_.map(_._1) == Seq("ok_query", "ok_too")))
    assert(timed.best.forall { case (n, t) => t == timed.passes.map(_.toMap.apply(n)).min })
  }

  test("timeQueries reports the Spark work of every query that passed") {
    val queries = Seq[(String, (SparkSession, String) => DataFrame)](
      "shuffled" -> ((s, _) => s.range(1000).repartition(3).toDF("id")),
      "broken_query" -> ((s, _) => s.range(10).selectExpr("no_such_column")),
      "plain" -> ((s, _) => s.range(5).toDF("id")))
    val timed = Bench.timeQueries(spark, "/unused", queries, passes = 2)(())
    assert(timed.work.map(_._1) == Seq("shuffled", "plain"), "no entry for the broken query")
    val work = timed.work.map { case (n, c) => n -> c.fields.toMap }.toMap
    assert(work.values.forall(_("jobs") >= 1), work)
    assert(work("shuffled")("shuffle_write_mb") > 0, work)
  }
}
