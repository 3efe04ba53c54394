package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.Staged

class TraceSpec extends AnyFunSuite {
  private lazy val work = Files.createTempDirectory("perfbench").toString
  private lazy val spark: SparkSession = Main.session(2, work)

  private def args(workload: String) = Main.Args(workload, seed = 7, seconds = 0, trace = true,
    work = s"$work/$workload", data = "data", cpus = 2)

  test("a call site is charged to its outermost graft frame below the pipeline") {
    val stack = Seq(
      "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1)",
      "graft.lake.Staged$.$anonfun$land$1(Staged.scala:30)",
      "graft.lake.SnapshotLake.upsert(SnapshotLake.scala:300)",
      "graft.core.Overlap$.par(Overlap.scala:38)",
      "graft.pipeline.DropCycle$.run(DropCycle.scala:130)",
      "perfbench.MonthlyDrop.run(Workloads.scala:1)")
    assert(Trace.entryOf(stack).contains("lake.SnapshotLake"))
    // work a pipeline step runs itself stays with the step
    assert(Trace.entryOf(stack.drop(4)).contains("pipeline.DropCycle"))
    // only graft.core between the caller and Spark: no graft entry
    assert(Trace.entryOf(Seq("graft.core.Overlap$.par(Overlap.scala:38)")).isEmpty)
    assert(Trace.frameEntry("at graft.ops.Dedup$.$anonfun$connectedComponents$2(Dedup.scala:9)")
      .contains("ops.Dedup"))
  }

  test("stages started from graft-overlap threads are charged to a named entry") {
    import spark.implicits._
    val t = Tracer.install(spark.sparkContext)
    val before = t.snapshot()
    Staged.landMany(spark, s"$work/overlap",
      Seq("a" -> (1 to 100).toDF("x"), "b" -> (1 to 100).toDF("y").repartition(3)))
    val d = t.snapshot() - before
    t.active = false
    val run = d.totals.filter(_._2.jobs > 0)
    assert(run.nonEmpty)
    assert(!run.contains(Trace.Unattributed), s"unattributed work: $run")
    assert(run.keySet == Set("lake.Staged"), s"entries: ${run.keySet}")
  }

  test("a unit that throws is counted as failed and leaves no sample") {
    val w = new Workload {
      def setup(): Unit = ()
      def run(i: Int): String = if (i == 1) throw new IllegalStateException("boom") else "u"
      def check(i: Int): Unit = Workload.expect(i != 2, "wrong output")
      def storedBytes(): Long = 0L
    }
    val runner = new Runner(w, new Spans(None), _ => ())
    (0 until 4).foreach(i => runner.unit(i, timed = true, traced = false))
    assert(runner.attempted == 4 && runner.failed == 2)
    assert(runner.records.size == 2)
    val r = Main.Result(1.0, 0L, runner, "", "", 2, finishOk = true)
    assert(Report.result(args("corpus_curate").copy(trace = false), r)
      .startsWith("""{"correct": false, "attempted": 4, "failed": 2"""))
  }

  test("write_amp divides a month's output by that month's generated input") {
    val dir = s"$work/write_amp"
    val corpus = Gen.Corpus.load("data/documents.tsv.gz")
    val t = Tracer.install(spark.sparkContext)
    t.active = false
    val spans = new Spans(Some(t))
    val w = new MonthlyDrop(spark, spans, 7, corpus, dir, Scale.Tiny)
    val runner = new Runner(w, spans, _ => ())
    w.setup()
    runner.unit(0, timed = true, traced = true)
    assert(runner.failed == 0)
    def generated(m: Int) =
      Seq("place", "extract.jsonl", "docs").map(x => Workload.du(new File(s"$dir/in/$x/m=$m"))).sum
    assert(generated(1) != generated(0))
    val u = runner.records.head
    assert(u.ratios("monthly_drop.write_amp") == u.work.all.outputB.toDouble / generated(1))
  }

  test("the curate model removes near-duplicates and contaminated documents") {
    val corpus = Gen.Corpus.load("data/documents.tsv.gz")
    val docs = Gen.curateBatch(7, 0, corpus, Scale.Full.curateDocs)
    val stop = graft.ops.TextAnalysis.stopwords("en").toSet
    val m = CurateRef.kept(docs, CorpusCurate.MinShared, CorpusCurate.MinQuality, stop)
    val train = docs.map(_.docId).filter(_ % 10 != 0).toSet
    val good = docs.filter(d => CurateRef.quality(d.text, CurateRef.tokens(d.text), stop) >=
      CorpusCurate.MinQuality).map(_.docId).toSet
    // each step removes training documents the other steps would keep,
    // so a step that removes nothing changes the packed set
    assert((m.nearDup -- m.contaminated).intersect(good).nonEmpty)
    assert((m.contaminated -- m.nearDup).intersect(good).nonEmpty)
    assert(m.kept == (train & good) -- m.nearDup -- m.contaminated)
    // the band model finds an exact copy
    val sh = CurateRef.shingles(CurateRef.tokens(docs(3).text))
    assert(CurateRef.nearDupRemoved(Map(1L -> sh, 2L -> sh, 3L -> Set("a b c"))) == Set(2L))
  }

  for (workload <- Main.Workloads)
    test(s"$workload: checks pass and the traced run reports its attributed share") {
      spark
      val a = args(workload)
      val r = Main.measure(a, Scale.Tiny, System.currentTimeMillis(), s => info(s))
      assert(r.runner.failed == 0 && r.finishOk, "a unit or end-of-run check failed")
      val layers = Report.perLayer(r)
      assert((Report.PerLayer ++ Report.ServeOnly).map(_._1).toSet == layers.keySet)
      assert(layers("all.jobs") > 0)
      assert(layers("trace.named_frac") >= 0.9, s"named share ${layers("trace.named_frac")}")
      assert(layers("trace.callsite_frac") > 0.0)
      val detail = Report.detail(a, r)
      assert(Report.ServeOnly.forall(m => detail.contains(m._1)) == (workload == "lake_serve"))
    }
}
