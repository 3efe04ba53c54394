package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.enrich.Companies
import graft.sources.Sources
import graft.versions.{IdAssign, Versions}

class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("loadColumnCodes: quoted TSV -> map (S3)") {
    val dir = Files.createTempDirectory("tsv")
    val f = dir.resolve("codes.tsv")
    Files.writeString(f,
      "\"ORIGINAL\"\t\"DBFIELD\"\t\"TYPE\"\n" +
        "\"Ciudad (Adjudicatario)\"\t\"Adjudicatario/Ciudad\"\t\"string\"\n" +
        "\"updated\"\t\"updated\"\t\"date\"\n")
    val m = Sources.loadColumnCodes(spark, f.toString)
    assert(m("Ciudad (Adjudicatario)") == "Adjudicatario/Ciudad")
    assert(m("updated") == "updated")
  }

  test("loadCpv: ;-separated, quote-stripped, int control (S4)") {
    val dir = Files.createTempDirectory("cpv")
    val f = dir.resolve("cpv.csv")
    Files.writeString(f,
      "_id;control;descripcion\n" +
        "'03000000';1;'Productos de la agricultura'\n" +
        "'03100000';2;'Cereales y patatas'\n")
    val rows = Sources.loadCpv(spark, f.toString).orderBy("cpv_id").collect()
    assert(rows.length == 2)
    assert(rows.head.getAs[String]("cpv_id") == "03000000")
    assert(rows.head.getAs[Int]("control") == 1)
    assert(rows.head.getAs[String]("descripcion") == "Productos de la agricultura")
  }

  test("readTextWithLineNumbers: gzip-transparent line ranges (S12)") {
    val dir = Files.createTempDirectory("txt")
    val f = dir.resolve("data.txt")
    Files.writeString(f, "line0\nline1\nline2\n")
    val got = Sources.readTextWithLineNumbers(spark, f.toString)
      .filter(col("line_no") >= 1).orderBy("line_no")
      .collect().map(_.getAs[String]("value"))
    assert(got.toSeq == Seq("line1", "line2"))
  }

  test("assignSequential: contiguous ids in key order, no single-partition sort (W1)") {
    val df = (1 to 1000).map(i => (i * 7) % 1001).toDF("k")  // unique, scrambled
    val (out, n) = IdAssign.assignSequential(df, "k", startFrom = 100L, numPartitions = Some(8))
    assert(n == 1000)
    val rows = out.orderBy("seq").collect().map(r => (r.getAs[Int]("k"), r.getAs[Long]("seq")))
    assert(rows.map(_._2).toSeq == (100L until 1100L))           // contiguous
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq)  // key order
  }

  test("Companies: JSONL scan, presence filter, tombstone-aware enrichment (S5, P10, J4)") {
    val dir = Files.createTempDirectory("jsonl")
    val f = dir.resolve("companies.jsonl")
    Files.writeString(f,
      """{"procurement_id":"ntp00000007","doc_name":"d1.pdf","SINGLE_COMPANY":["ACME SL"],"UTE":[]}
        |{"procurement_id":"ntp00000003","doc_name":"d2.pdf","UTE":[["A SL","B SA"]]}
        |{"procurement_id":"ntp00000001","doc_name":"d3.pdf"}
        |""".stripMargin)
    val companies = Companies.readJsonl(spark, f.toString)
    assert(companies.count() == 3)
    assert(Companies.withCompanies(companies).count() == 2)

    // ntp...03 is a tombstone pointing at active ntp...07
    val records = Seq(("ntp00000007", "active")).toDF("_id", "state")
    val resolved = Seq(("ntp00000003", "ntp00000007")).toDF("src", "resolved_to")
    val enriched = Companies.enrich(records, "_id", companies, resolved)
    val m = enriched.filter(col("_id") === "ntp00000007")
      .select(map_keys(col("empresas_en_docs")).as("docs")).collect().head
      .getAs[scala.collection.Seq[String]]("docs")
    assert(m.toSet == Set("d1.pdf", "d2.pdf")) // both landed on the active record
  }

  test("loadOrc: mixed-format lake scan — typed round-trip, pushdown + pruning reach the stripe reader (S1/ORC)") {
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val dir = Files.createTempDirectory("orcsrc").toString + "/orders"
    src.write.orc(dir)
    val back = graft.sources.Sources.loadOrc(spark, dir)
    // schema (incl. the NTZ timestamp) and every value survive the format hop
    assert(back.schema == src.schema,
      s"ORC round-trip changed the schema:\n${back.schema}\nvs\n${src.schema}")
    assert(back.count() == src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
    // filter + projection are pushed into the ORC scan, like parquet
    val plan = back.filter(col("o_orderkey") === 42L).select("o_orderkey", "o_totalprice")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,42)]"), plan)
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"), plan)
    // schema pin skips inference and is enforced
    val pinned = graft.sources.Sources.loadOrc(spark, dir, Some(src.schema))
    assert(pinned.schema == src.schema)
  }
}
