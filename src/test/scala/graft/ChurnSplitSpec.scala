package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.ChurnSplit
import graft.ops._

/** Pins the shared churn-split contract the index tiers ride
  * (round-15 consolidation): kept = verbatim re-delivery, fresh = new
  * or fingerprint-drifted, others = keys absent from the incoming
  * frame. The tier suites (DedupIndexSpec, TextIndexSpec,
  * PostingsIndexSpec, SimilarityIndexSpec, FuzzyJoinIndexSpec) keep
  * proving each tier end-to-end; this one pins the seam itself, and the
  * counters every tier on [[ChurnSplit.land]] reads off its landing
  * write at the edges: an empty fresh branch, an empty kept branch, and
  * an upsert that carries `others`.
  */
class ChurnSplitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("kept / fresh / others decompose exactly by (key, fingerprint)") {
    // old index rows: id 1 unchanged, id 2 will drift, id 3 vanishes
    val old = Seq((1L, "fp-a", "row1"), (2L, "fp-b", "row2"), (3L, "fp-c", "row3"))
      .toDF("doc", "fp", "payload")
    // incoming: id 1 re-delivered verbatim, id 2 changed, id 4 new
    val incoming = Seq((1L, "text-a"), (2L, "text-B"), (4L, "text-d"))
      .toDF("id", "text")
    // the fixture's "fingerprint": fp-<last char> so drift is visible
    val fp = concat(lit("fp-"), substring(col("text"), -1, 1))
    val s = ChurnSplit.split(old, "doc", "fp", incoming, "id", fp)
    assert(s.kept.collect().map(r => (r.getLong(0), r.getString(2))).toSet ==
      Set((1L, "row1")), "only the verbatim re-delivery carries")
    assert(s.fresh.collect().map(_.getLong(0)).toSet == Set(2L, 4L),
      "drifted and new ids are the recompute set")
    assert(s.others.collect().map(_.getLong(0)).toSet == Set(3L),
      "keys absent from the incoming frame are the refresh-drop / upsert-carry set")
    // the three sets reconstruct refresh (kept + recomputed(fresh)) and
    // upsert (others + kept + recomputed(fresh)) without overlap
    assert(s.kept.select("doc").intersect(s.others.select("doc")).count() == 0)
  }

  test("a duplicate-row index carries duplicates verbatim (multi-row-per-key tiers)") {
    // band/posting tiers hold MANY rows per key: every row of a kept key
    // must carry
    val old = Seq((1L, "fp-a", 0), (1L, "fp-a", 1), (2L, "fp-b", 0))
      .toDF("doc", "fp", "band")
    val incoming = Seq((1L, "text-a")).toDF("id", "text")
    val fp = concat(lit("fp-"), substring(col("text"), -1, 1))
    val s = ChurnSplit.split(old, "doc", "fp", incoming, "id", fp)
    assert(s.kept.count() == 2L && s.others.count() == 1L && s.fresh.count() == 0L)
  }

  // ids 0..79: base = id % 10 != 9; allNew = id % 20 == 9 (outside the
  // base); mixed = id % 7 == 0, its even ids altered — re-delivered
  // unchanged, drifted, and never-seen ids in one batch, with the rest
  // of the index as `others`
  private val ids = 0L until 80L
  private val base = ids.filter(_ % 10 != 9)
  private val allNew = ids.filter(_ % 20 == 9)
  private val mixed = ids.filter(_ % 7 == 0)

  private def docs(sel: Seq[Long], alteredEven: Boolean = false): DataFrame = {
    val rows = sel.map { i =>
      val text =
        if (i % 2 == 0) s"the quick brown fox jumps over the lazy dog number $i and keeps growing"
        else s"zzz$i spam casino jackpot winner click here buy cheap pills offer expires"
      (i, if (i % 2 == 0) "en" else "xx", if (alteredEven && i % 2 == 0) text + " revised" else text)
    }
    rows.toDF("doc_id", "lang", "text")
  }

  private lazy val emb = {
    val rnd = new scala.util.Random(7)
    ids.map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding").localCheckpoint(true)
  }
  private def vecs(sel: Seq[Long], alteredEven: Boolean = false): DataFrame = {
    val v = emb.filter(col("vec_id").isin(sel: _*))
    if (!alteredEven) v
    else v.withColumn("embedding", when(col("vec_id") % 2 === 0,
      transform(col("embedding"), x => x * lit(0.5f))).otherwise(col("embedding")))
  }

  private final case class Tier(name: String, input: (Seq[Long], Boolean) => DataFrame,
                                build: (DataFrame, String) => Unit,
                                refresh: (DataFrame, String) => (Long, Long),
                                upsert: (DataFrame, String) => (Long, Long),
                                landedDocs: String => Long)

  private def rows(path: String) = spark.read.parquet(path).count()
  private val en = col("lang") === "en"
  private lazy val labeled = docs(base)
  private val tiers = Seq(
    Tier("DedupIndex", docs,
      DedupIndex.build(_, "doc_id", "text", _),
      DedupIndex.refresh(_, "doc_id", "text", _),
      DedupIndex.upsert(_, "doc_id", "text", _),
      p => spark.read.parquet(p).filter(col("band") <= 0).count()),
    Tier("TextIndex", docs,
      TextIndex.build(_, "doc_id", "text", _),
      TextIndex.refresh(_, "doc_id", "text", _),
      TextIndex.upsert(_, "doc_id", "text", _), rows),
    Tier("PostingsIndex", docs,
      PostingsIndex.build(_, "doc_id", "text", _),
      PostingsIndex.refresh(_, "doc_id", "text", _),
      PostingsIndex.upsert(_, "doc_id", "text", _), p => rows(p + "/doclen")),
    Tier("ClfIndex", docs,
      (d, p) => ClfIndex.build(labeled, d, "doc_id", "text", en, p),
      (d, p) => ClfIndex.refresh(labeled, d, "doc_id", "text", en, p),
      ClfIndex.upsert(_, "doc_id", "text", _), p => ClfIndex.serve(spark, p).count()),
    Tier("SimilarityIndex", vecs,
      (d, p) => SimilarityIndex.build(d, "vec_id", "embedding", p, nList = 4),
      SimilarityIndex.refresh(_, "vec_id", "embedding", _),
      SimilarityIndex.upsert(_, "vec_id", "embedding", _), p => rows(p + "/lists")),
    Tier("PqIndex", vecs,
      (d, p) => PqIndex.build(d, "vec_id", "embedding", p, nList = 4, mSub = 8, ks = 32),
      PqIndex.refresh(_, "vec_id", "embedding", _),
      PqIndex.upsert(_, "vec_id", "embedding", _), p => rows(p + "/lists")),
    Tier("ImiPqIndex", vecs,
      (d, p) => ImiPqIndex.build(d, "vec_id", "embedding", p, nCells = 16, mSub = 8, ks = 32),
      ImiPqIndex.refresh(_, "vec_id", "embedding", _),
      ImiPqIndex.upsert(_, "vec_id", "embedding", _), p => rows(p + "/lists")))

  /** `body`'s result, asserting it leaves no newly persisted RDD. */
  private def noNewPersist[T](what: String)(body: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r = body
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"$what left persisted RDDs $leaked")
    r
  }

  for (t <- tiers) test(s"${t.name}: landing counters exact with an empty fresh branch, " +
      "an empty kept branch, and an upsert that carries others") {
    val path = java.nio.file.Files.createTempDirectory("churnland").toString + "/idx"
    t.build(t.input(base, false), path)
    assert(noNewPersist("refresh")(t.refresh(t.input(base, false), path)) == ((base.size.toLong, 0L)),
      "all unchanged: every row carries, none re-signs")
    assert(noNewPersist("upsert")(t.upsert(t.input(allNew, false), path)) == ((0L, allNew.size.toLong)),
      "all new: nothing to carry")
    val indexed = (base ++ allNew).toSet
    val wantKept = mixed.count(i => indexed(i) && i % 2 != 0).toLong
    assert(noNewPersist("upsert")(t.upsert(t.input(mixed, true), path)) ==
      ((wantKept, mixed.size - wantKept)), "mixed: unchanged carry, drifted and new re-sign")
    assert(t.landedDocs(path) == (indexed ++ mixed).size.toLong,
      "the upsert must carry every out-of-batch row")
  }

  test("a landing whose write fails raises the write's error without waiting on its counters") {
    val path = java.nio.file.Files.createTempDirectory("churnland").toString + "/idx"
    Seq((1L, "fp-a"), (2L, "fp-b")).toDF("doc", "fp").write.parquet(path)
    val incoming = Seq((1L, "a"), (3L, "c")).toDF("id", "text")
    val s = ChurnSplit.split(spark.read.parquet(path), "doc", "fp", incoming, "id",
      concat(lit("fp-"), col("text")))
    val failing = s.fresh.select(col("id").as("doc"),
      when(col("id") > 0, raise_error(lit("landing boom"))).otherwise(col("text")).as("fp"))
    val t0 = System.nanoTime()
    val err = intercept[Exception](ChurnSplit.land(spark, path, s, failing, ChurnSplit.Upsert))
    val waited = (System.nanoTime() - t0) / 1e9
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("landing boom")), s"got $err")
    assert(waited < ChurnSplit.MetricsWait.toSeconds / 2,
      s"raised after $waited s — the error must not wait out the counters")
    assert(spark.read.parquet(path).count() == 2L, "a failed landing keeps the old index")
  }
}
