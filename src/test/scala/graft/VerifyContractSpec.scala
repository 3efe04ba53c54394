package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The Verify dump's scoring contract: EVERY declared query produces a
  * scorable artifact, success or failure — the driver's report size must
  * equal `SparkEntry.queries.size` so broken queries surface as red rows
  * instead of silently shrinking the round's headline count (the round-10
  * failure mode).
  */
class VerifyContractSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("dumpQueries writes a scorable artifact for every query, even throwing ones") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_verify_contract").toString
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "ok_query" -> ((s, _) => { import s.implicits._; Seq((1, "a")).toDF("id", "v") }),
      "analysis_error" -> ((s, _) => {
        import s.implicits._
        // the exact round-10 failure shape: a binary op over mismatched types
        Seq((1, "x")).toDF("a", "b").selectExpr("a div b")
      }),
      "runtime_error" -> ((_, _) => sys.error("boom at plan build time")))
    Verify.dumpQueries(spark, "/unused", out, queries)

    val dumped = Paths.get(out).toFile.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dumped == queries.keySet, "every declared query must yield an output dir")

    assert(Files.list(Paths.get(out, "ok_query")).anyMatch(_.toString.endsWith(".parquet")))
    assert(!Files.exists(Paths.get(out, "ok_query", "_ERROR")))
    for (bad <- Seq("analysis_error", "runtime_error")) {
      val sentinel = Paths.get(out, bad, "_ERROR")
      assert(Files.exists(sentinel), s"$bad must leave an _ERROR sentinel")
      assert(Files.readString(sentinel).nonEmpty)
    }
  }

  test("dropStreamSinks only touches graft's own memory sinks") {
    import spark.implicits._
    Seq(1).toDF("x").createOrReplaceTempView("user_view_sink")
    Seq(2).toDF("x").createOrReplaceTempView("graft_stream_test_sink")
    Verify.dropStreamSinks(spark)
    val names = spark.catalog.listTables().collect().map(_.name).toSet
    assert(names.contains("user_view_sink"), "unrelated *_sink views must survive")
    assert(!names.contains("graft_stream_test_sink"))
    spark.catalog.dropTempView("user_view_sink")
  }

  test("integration tier is exactly the scratch-dir-building queries") {
    val q = SparkEntry.queries.keySet
    assert((SparkEntry.integrationQueries -- q).isEmpty,
      s"integration tier names unknown queries: ${SparkEntry.integrationQueries -- q}")
    // pin membership against the SOURCE: a query body that creates a
    // scratch temp dir is a machinery journey and must be tiered as
    // such, else its fs noise pollutes the pure tier's thresholds
    val entryRe = """"([a-z0-9_]+)" -> \(\(s, dir\)""".r
    val scratch = Seq("src/main/scala/graft/CorpusQueries.scala",
      "src/main/scala/graft/SparkEntry.scala").flatMap { f =>
      val src = Files.readString(Paths.get(f))
      val entries = entryRe.findAllMatchIn(src).map(m => (m.start, m.group(1))).toSeq
      entries.zipWithIndex.collect { case ((pos, name), i)
        if src.substring(pos,
          if (i + 1 < entries.size) entries(i + 1)._1 else src.length)
          .contains("createTempDirectory") => name }
    }.toSet
    // model-TRAINER journeys carry the same many-small-jobs wall profile
    // without a scratch dir (k-means rounds, PCA fit); they are allowed
    // into the tier ONLY by this explicit pinned list
    val trainerJourneys = Set("sim_recall_board", "sim_hier_m_board")
    assert((scratch ++ trainerJourneys) == SparkEntry.integrationQueries,
      s"tier drift — missing: ${(scratch ++ trainerJourneys) -- SparkEntry.integrationQueries}, " +
        s"stale: ${SparkEntry.integrationQueries -- scratch -- trainerJourneys}")
  }

  test("declared queries and oracle entries line up") {
    // every oracle row must have a runnable query; queries without oracle
    // SQL are allowed (weaker rows-only check) but must be rare
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracle SQL without a query: ${o -- q}")
    assert(q == o, s"queries without oracle SQL: ${q -- o}")
  }
}
